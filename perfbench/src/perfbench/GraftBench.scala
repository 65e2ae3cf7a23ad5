package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.etl.EcommercePipeline
import graft.plans.MaterializedAgg
import graft.quality.QualityChecks
import graft.streaming.EventsPipeline
import graft.tables.LakehouseTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The graft benchmark program: one workload per JVM, a closed loop with
  * one client, every operation timed and failure-isolated by [[Trace]].
  *
  *   GraftBench <workload> <seed> <seconds> <trace 0|1> <cores> <work>
  *              <dataDir> <benchDir> <resultJson>
  *
  * Writes the metrics, the output-check verdict and the failed
  * operations to `resultJson`; the traced run also writes its spans
  * beside it. */
object GraftBench {
  private val mapper = new ObjectMapper()

  final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cores: Int, work: String, data: String, benchDir: String,
                        out: String)

  def main(argv: Array[String]): Unit = {
    val Array(w, seed, secs, tr, cores, work, data, benchDir, out) = argv
    val c = Conf(w, seed.toLong, secs.toInt, tr == "1", cores.toInt, work, data, benchDir, out)
    val trace = new Trace(c.trace, s"${c.workload}-${c.seed}")

    // set-up, timed from JVM start: session build, function registration,
    // schema warm-up of every input table and one warm-up query
    val spark = setup(c)
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    trace.attach(spark)

    val spec = mapper.readTree(new File(s"${c.benchDir}/queries.json"))
    val result = c.workload match {
      case "analyst_sql" | "curation_ops" => new QueryWorkload(spark, c, trace, spec).run()
      case "lakehouse_etl" => new EtlWorkload(spark, c, trace).run()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val metrics = Metrics.compute(c, trace, setupS, result)
    if (c.trace) trace.writeSpans(c.out.stripSuffix(".json") + ".spans.jsonl")
    Metrics.writeResult(c.out, trace, result, metrics)
    spark.stop()
  }

  def setup(c: Conf): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse/_catalog")
      .config("mapreduce.fileoutputcommitter.algorithm.version", "2")
    if (c.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.NativeFunctions.register(spark)
    MaterializedAgg.attach(spark)
    graft.Tables.all.foreach(t => graft.Tables.load(spark, c.data, t))
    noop(graft.SparkEntry.queries("q_pricing_summary")(spark, c.data))
    spark
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** What a workload hands to [[Metrics]]: its cold first pass, the
    * output-check verdict with reasons, and workload-specific figures. */
  final case class Outcome(firstPassS: Double, checksOk: Boolean, checkNotes: Seq[String],
                           extra: Map[String, Double])
}

/** analyst_sql / curation_ops: rounds over the workload's queries in a
  * seed-shuffled order, never the same query back to back. The cold
  * first pass runs each query once into an order-insensitive output
  * fingerprint (the output check); the timed rounds run each query to
  * the `noop` sink. */
final class QueryWorkload(spark: SparkSession, c: GraftBench.Conf, trace: Trace, spec: JsonNode) {
  import GraftBench._

  private val names = spec.get("workloads").get(c.workload).elements().asScala.map(_.asText).toVector
  private val pkg = (q: String) => spec.get("package").get(q).asText
  private val fns = graft.SparkEntry.queries
  private val rng = new scala.util.Random(c.seed)
  private val rowsOnly = spec.get("rows_only")
  private val fingerprints = mutable.LinkedHashMap.empty[String, String]

  private def order(prevLast: Option[String]): Vector[String] = {
    var o = rng.shuffle(names)
    while (names.size > 1 && prevLast.contains(o.head)) o = rng.shuffle(names)
    o
  }

  /** Row count plus the sum of a 64-bit hash of each row's JSON form;
    * the row count alone for the queries listed in `rows_only`. */
  private def fingerprint(q: String): Unit = {
    val r = fns(q)(spark, c.data)
      .select(xxhash64(to_json(struct(col("*")))).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    fingerprints(q) = if (rowsOnly.has(q)) s"${r.getLong(0)}" else s"${r.getLong(0)}:${r.get(1)}"
  }

  def run(): Outcome = {
    val t0 = System.nanoTime()
    val first = order(None)
    first.foreach(q => trace.op(q, pkg(q), "first", client = true)(fingerprint(q)))
    val firstPass = (System.nanoTime() - t0) / 1e9
    var last = first.lastOption
    val deadline = System.nanoTime() + c.seconds * 1000000000L
    var rounds = 0
    while (rounds < 3 || System.nanoTime() < deadline) {
      val o = order(last)
      o.foreach(q => trace.op(q, pkg(q), "timed", client = true)(noop(fns(q)(spark, c.data))))
      last = o.lastOption
      rounds += 1
    }
    val expected = new ObjectMapper().readTree(new File(s"${c.benchDir}/fingerprints.json"))
    val notes = names.sorted.flatMap { q =>
      val want = Option(expected.get(q)).map(_.asText)
      val got = fingerprints.get(q)
      if (got.isDefined && got == want) None else Some(s"fingerprint $q: got ${got.getOrElse("error")}, want ${want.getOrElse("none")}")
    } ++ (if (trace.failures.isEmpty) Nil
          else Seq(s"failed ops: ${trace.failures.map(_.name).distinct.mkString(",")}"))
    sys.env.get("PERFBENCH_WRITE_FINGERPRINTS").foreach { path =>
      java.nio.file.Files.write(java.nio.file.Paths.get(path), fingerprints.toSeq.sortBy(_._1)
        .map { case (k, v) => s"""  "$k": "$v"""" }.mkString("{\n", ",\n", "\n}\n").getBytes)
    }
    Outcome(firstPass, notes.isEmpty, notes, Map("rounds" -> rounds.toDouble))
  }
}

/** lakehouse_etl: a backfill in EtlMain's order, then 7-day incremental
  * batches with corrections, late products, maintenance every second
  * batch, an events stream slice and a fixed set of analyst reads. */
final class EtlWorkload(spark: SparkSession, c: GraftBench.Conf, trace: Trace) {
  private val manifest = new ObjectMapper().readTree(new File(s"${c.work}/etl_${c.seed}/manifest.json"))
  private val wh = s"${c.work}/warehouse"
  private val pipe = new EcommercePipeline(spark, wh)
  private def table(name: String, pk: Seq[String], parts: Seq[String] = Nil) =
    LakehouseTable(spark, s"$wh/$name", pk, parts)
  private val goldDaily = table("gold_daily_sales", Seq("date"))
  private val gci = table("gold_customer_insights", Seq("user_id"))
  private val dateSummary = table("gold_orders_date_summary", Seq("date"), Seq("date"))
  private val deptSummary = table("gold_department_daily_summary", Seq("date", "department"), Seq("date"))
  private val landing = s"${c.work}/events_landing"
  private val serving = s"$wh/events_hourly"
  private val eventSummary = s"$wh/events_type_summary"
  private val rng = new scala.util.Random(c.seed)

  private var deliveredBytes = 0L
  private val batchS = mutable.ArrayBuffer.empty[Double]
  private val freshnessS = mutable.ArrayBuffer.empty[Double]
  private val mvEligible = mutable.ArrayBuffer.empty[Boolean]
  private val prunedFrac = mutable.ArrayBuffer.empty[Double]
  private var rejected = 0L
  private var delivered = 0L

  private def du(path: String): Long = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(g => du(g.getPath)).sum
    else f.length()
  }
  private def strs(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  private def stage(name: String, phase: String)(f: => graft.etl.StageResult): Unit =
    trace.op(name, "etl", phase)(f).foreach { r => rejected += r.rejected; delivered += r.upserted + r.rejected }

  private def ingest(dir: String, phase: String): Unit = {
    deliveredBytes += Seq("products", "orders", "order_items").map(d => du(s"$dir/$d")).sum
    stage("run_products", phase) { pipe.repairAll(); pipe.runProducts(s"$dir/products") }
    stage("run_orders", phase)(pipe.runOrders(s"$dir/orders"))
    stage("run_order_items", phase)(pipe.runOrderItems(s"$dir/order_items"))
    trace.op("replay", "etl", phase)(pipe.replayQuarantine())
  }

  private def registerCatalog(phase: String): Unit =
    trace.op("registerAs", "tables", phase) {
      pipe.silverOrders.registerAs("silver.orders")
      pipe.silverOrderItems.registerAs("silver.order_items")
      pipe.silverProducts.registerAs("silver.products")
    }

  private def backfill(): Unit = {
    val dir = manifest.get("backfill").get("dir").asText
    val p = "first"
    ingest(dir, p)
    val etlDate = "2025-06-01"
    Seq("gold_daily_sales" -> (() => pipe.goldDailySales()),
        "gold_product_performance" -> (() => pipe.goldProductPerformance()),
        "gold_department_analytics" -> (() => pipe.goldDepartmentAnalytics()),
        "gold_customer_insights" -> (() => pipe.goldCustomerInsights(etlDate))).foreach {
      case (name, df) => trace.op(s"overwrite.$name", "tables", p)(table(name, Nil).overwrite(df()))
    }
    trace.op("compact", "tables", p) {
      Seq(pipe.bronzeProducts, pipe.bronzeOrders, pipe.bronzeOrderItems)
        .foreach(_.compact(128L * 1024 * 1024))
      Seq(pipe.silverProducts, pipe.silverOrderItems).foreach(_.compact(256L * 1024 * 1024))
      Seq("gold_daily_sales", "gold_product_performance", "gold_department_analytics")
        .foreach(n => table(n, Nil).compact(512L * 1024 * 1024))
    }
    trace.op("vacuum", "tables", p) {
      (Seq(pipe.bronzeProducts, pipe.bronzeOrders, pipe.bronzeOrderItems,
           pipe.silverProducts, pipe.silverOrderItems) ++
        Seq("gold_daily_sales", "gold_product_performance", "gold_department_analytics")
          .map(table(_, Nil))).foreach(_.vacuum())
    }
    trace.op("optimizeClustered", "tables", p) {
      pipe.silverOrders.optimizeClustered(Seq("user_id")); pipe.silverOrders.vacuum()
    }
    trace.op("writeFileStats", "tables", p)(pipe.silverOrders.writeFileStats(Seq("user_id")))
    trace.op("optimizeZOrder", "tables", p) {
      gci.optimizeZOrder(Seq("user_id", "total_spend")); gci.vacuum()
      gci.writeFileStats(Seq("user_id", "total_spend"))
    }
    trace.op("writeFileBlooms", "tables", p)(pipe.silverOrderItems.writeFileBlooms(Seq("product_id")))
    trace.op("mv_date_build", "plans", p) {
      dateSummary.overwrite(MaterializedAgg.build(pipe.silverOrders.read, Seq("date"), Seq("total_amount")))
      dateSummary.registerAs("gold.orders_date_summary")
      MaterializedAgg.register(spark, pipe.silverOrders.path, dateSummary.path,
        Seq("date"), Seq("total_amount"))
    }
    trace.op("mv_join_build", "plans", p) {
      deptSummary.overwrite(MaterializedAgg.buildJoin(pipe.silverOrderItems.read,
        pipe.silverProducts.read, "product_id", "product_id", Seq("date", "department"),
        Seq("reordered")))
      deptSummary.registerAs("gold.department_daily_summary")
    }
    trace.op("registerJoin", "plans", p) {
      MaterializedAgg.registerJoin(spark, pipe.silverOrderItems.path, pipe.silverProducts.path,
        "product_id", "product_id", deptSummary.path, Seq("date", "department"), Seq("reordered"))
    }
    registerCatalog(p)
  }

  private def streamSlice(batch: JsonNode, k: Int): Unit = {
    new File(landing).mkdirs()
    val src = new File(batch.get("dir").asText + f"/events/slice_$k%03d.parquet")
    deliveredBytes += src.length()
    val landed = System.nanoTime()
    java.nio.file.Files.copy(src.toPath, new File(landing, src.getName).toPath)
    trace.op("stream_drain", "streaming", "timed") {
      EventsPipeline.maintainedUpsertSink(
        EventsPipeline.hourlyRollup(EventsPipeline.readEventsStream(spark, landing)),
        serving, eventSummary, s"${c.work}/events_checkpoint").start().awaitTermination()
    }
    freshnessS += (System.nanoTime() - landed) / 1e9
  }

  private def isServedBySummary(df: DataFrame, summaryPath: String): Boolean = {
    val leaf = new File(summaryPath).getName
    val hits = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr.relation match {
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          fs.location.rootPaths.exists(_.toString.contains(leaf))
        case _ => false
      }
    }
    hits.nonEmpty && hits.forall(identity)
  }

  /** Analyst reads after a batch: `rounds` repetitions of the five read
    * shapes with seeded parameters. */
  private def reads(rounds: Int): Unit = {
    val days = strs(manifest.get("backfill").get("days"))
    for (_ <- 1 to rounds) {
      val u = rng.nextInt(1400)
      prunedRead("read_pruned_orders", pipe.silverOrders)(pipe.silverOrders.readPruned("user_id", u, u + 20))
      val pid = rng.nextInt(2000)
      prunedRead("read_bloom_items", pipe.silverOrderItems)(pipe.silverOrderItems.readBloomFiltered("product_id", pid))
      val d0 = days(rng.nextInt(days.size))
      val dateAgg = spark.sql(s"SELECT date, sum(total_amount) AS revenue, count(*) AS n " +
        s"FROM silver.orders WHERE date >= '$d0' GROUP BY date")
      trace.op("read_sql_date_agg", "plans", "timed", client = true)(dateAgg.collect())
      val deptAgg = spark.sql("SELECT p.department, sum(oi.reordered) AS reorders, count(*) AS n " +
        "FROM silver.order_items oi JOIN silver.products p ON oi.product_id = p.product_id " +
        s"WHERE oi.date >= '$d0' GROUP BY p.department")
      trace.op("read_sql_dept_agg", "plans", "timed", client = true)(deptAgg.collect())
      if (c.trace) {
        mvEligible += isServedBySummary(dateAgg, dateSummary.path)
        mvEligible += isServedBySummary(deptAgg, deptSummary.path)
      }
      val g = rng.nextInt(1400)
      prunedRead("read_zorder_insights", gci)(gci.readPruned("user_id", g, g + 20))
    }
  }

  /** A timed pruned read; traced runs also record the parquet files it
    * opened ÷ the files live in the table. */
  private def prunedRead(name: String, t: LakehouseTable)(read: => DataFrame): Unit = {
    trace.op(name, "tables", "timed", client = true)(read.collect())
    if (c.trace) {
      val opened = CountingFileSystem.takeOpened()
      val live = t.read.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet
      if (live.nonEmpty) prunedFrac += opened.count(live).toDouble / live.size
      CountingFileSystem.takeOpened()
    }
  }

  def run(): GraftBench.Outcome = {
    val t0 = System.nanoTime()
    backfill()
    val firstPass = (System.nanoTime() - t0) / 1e9

    val batches = manifest.get("batches")
    val deadline = System.nanoTime() + c.seconds * 1000000000L
    var k = 0
    while (k < batches.size && (k < 1 || System.nanoTime() < deadline)) {
      val b = batches.get(k)
      val touched = strs(b.get("touched_dates"))
      val tb = System.nanoTime()
      ingest(b.get("dir").asText, "timed")
      trace.op("gold_incremental", "etl", "timed")(pipe.goldDailySalesIncremental(goldDaily, touched))
      trace.op("mv_refresh", "plans", "timed") {
        MaterializedAgg.refresh(pipe.silverOrders, dateSummary, Seq("date"), Seq("total_amount"), touched)
      }
      batchS += (System.nanoTime() - tb) / 1e9
      if (k % 2 == 0) trace.op("maintenance", "tables", "timed") {
        pipe.silverOrders.compact(256L * 1024 * 1024); pipe.silverOrders.vacuum()
        pipe.silverOrders.writeFileStats(Seq("user_id"))
        pipe.silverOrderItems.compact(256L * 1024 * 1024); pipe.silverOrderItems.vacuum()
        pipe.silverOrderItems.writeFileBlooms(Seq("product_id"))
      }
      registerCatalog("timed")
      streamSlice(b, k)
      reads(4)
      k += 1
    }
    val (ok, notes) = checks(batches.get(k - 1))
    GraftBench.Outcome(firstPass, ok, notes, Map(
      "batches" -> k.toDouble,
      "etl.batch_p50_s" -> Metrics.pct(batchS.toSeq, 50),
      "streaming.freshness_p50_s" -> Metrics.pct(freshnessS.toSeq, 50),
      "tables.stored_per_input" -> du(wh).toDouble / deliveredBytes,
      "tables.write_amp" -> trace.ops.flatMap(_.stats).map(_.bytesWritten).sum.toDouble / deliveredBytes,
      "etl.rejected_frac" -> (if (delivered == 0) 0.0 else rejected.toDouble / delivered),
      "plans.mv_hit_frac" -> (if (mvEligible.isEmpty) 0.0 else mvEligible.count(identity).toDouble / mvEligible.size),
      "tables.pruned_file_frac" -> Metrics.pct(prunedFrac.toSeq, 50),
      "tables.files_live" -> liveFiles().toDouble,
      "tables.meta_files" -> metaFiles().toDouble))
  }

  private val tableNames = Seq("silver_products", "silver_orders", "silver_order_items",
    "gold_daily_sales", "gold_product_performance", "gold_department_analytics",
    "gold_customer_insights", "gold_orders_date_summary", "gold_department_daily_summary")
  private def liveFiles(): Long = tableNames.map(n => table(n, Nil).read.inputFiles.length.toLong).sum
  private def metaFiles(): Long = {
    def walk(f: File): Seq[File] = if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(wh)).count { f =>
      val n = f.getName
      !n.endsWith(".parquet") && !n.endsWith(".crc")
    }.toLong
  }

  /** Untimed output checks against the generator's expectations. */
  private def checks(last: JsonNode): (Boolean, Seq[String]) = {
    val notes = mutable.ArrayBuffer.empty[String]
    def expect(what: String, got: Long, want: Long): Unit =
      if (got != want) notes += s"$what: got $got, want $want"
    trace.op("checks", "quality", "check") {
      val exp = last.get("expected")
      val so = pipe.silverOrders.read; val si = pipe.silverOrderItems.read; val sp = pipe.silverProducts.read
      val qc = Seq(
        QualityChecks.duplicatePk(so, "silver_orders", Seq("order_id")),
        QualityChecks.duplicatePk(si, "silver_order_items", Seq("id")),
        QualityChecks.duplicatePk(sp, "silver_products", Seq("product_id")),
        QualityChecks.nullRequired(so, "silver_orders", Seq("order_id", "user_id", "order_timestamp", "date")),
        QualityChecks.nullRequired(si, "silver_order_items",
          Seq("id", "order_id", "user_id", "product_id", "order_timestamp", "date")),
        QualityChecks.nullRequired(sp, "silver_products", Seq("product_id", "product_name")),
        QualityChecks.fkIntegrity(si, so, "order_id", "order_id", "silver_order_items", 0.0),
        QualityChecks.fkIntegrity(si, sp, "product_id", "product_id", "silver_order_items", 0.0),
        QualityChecks.reconcile(goldDaily.read, pipe.goldDailySales(), Seq("date"),
          Seq("total_sales", "order_count", "avg_order_value", "unique_customers",
              "total_items", "avg_items_per_order"), "gold_daily_sales", 0.0))
      qc.filter(q => !q.passed || q.metric != 0.0).foreach(q => notes += s"quality ${q.check} on ${q.table}: ${q.metric}")
      expect("silver_products", sp.count(), exp.get("silver_products").asLong)
      expect("silver_orders", so.count(), exp.get("silver_orders").asLong)
      expect("silver_order_items", si.count(), exp.get("silver_order_items").asLong)
      // the quarantine table is first written by the first reject: a run
      // whose inputs never break referential integrity has none
      val quarantined = if (pipe.quarantine.exists) pipe.quarantine.read.count() else 0L
      expect("quarantine", quarantined, exp.get("quarantine").asLong)

      // serving table == hourlyRollup over the landed events == generator counts
      val servingRows = spark.read.parquet(serving)
        .select(unix_seconds(col("window_start")).as("w"), col("event_type"), col("n_events"), col("total_value"))
      val batch = EventsPipeline.hourlyRollup(spark.read.schema(EventsPipeline.EventSchema).parquet(landing))
        .select(unix_seconds(col("window_start")).as("w"), col("event_type"), col("n_events"), col("total_value"))
      val diff = servingRows.as("s").join(batch.as("b"), Seq("w", "event_type"), "full_outer")
        .filter(col("s.n_events").isNull || col("b.n_events").isNull ||
          col("s.n_events") =!= col("b.n_events") || abs(col("s.total_value") - col("b.total_value")) > 1e-6)
        .count()
      expect("serving rows differing from hourlyRollup", diff, 0)
      val want = exp.get("event_windows").fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
      val got = servingRows.collect().map(r => s"${r.getLong(0)}|${r.getString(1)}" -> r.getLong(2)).toMap
      expect("serving windows differing from generator counts",
        (want.keySet ++ got.keySet).count(k => want.get(k) != got.get(k)).toLong, 0)
    }.getOrElse(notes += "checks threw")
    val unexpected = trace.failures.map(_.name).filterNot(_ == "registerJoin")
    if (unexpected.nonEmpty) notes += s"unexpected failed ops: ${unexpected.mkString(",")}"
    (notes.isEmpty, notes.toSeq)
  }
}

package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.graftbridge.ListenerBusBridge

import scala.collection.concurrent.TrieMap

/** Benchmark main (driver contract) and graft's one timing harness:
  * times every SparkEntry query on SPARK_GRAFT_SF_DIR and prints one
  * JSON line.
  *
  * Timing discipline: results go to the `noop` sink — `.count()` would
  * let Catalyst prune the projection work (an md5 query would time only
  * the scan). A warmup action first absorbs JVM/codegen startup so
  * per-query numbers reflect steady state.
  *
  * Each timing comes with the scheduler counters of the same run
  * (jobs / stages / tasks / summed executor run time / shuffle
  * read+write bytes). They separate two cost regimes: a query whose
  * wall time is much larger than its task time is scheduling- or
  * driver-bound (too many jobs or stages — collect-driven loops,
  * per-iteration checkpoints), one whose task time dominates is
  * compute- or shuffle-bound and worth plan surgery.
  *
  * Local iteration: SPARK_GRAFT_BENCH_ONLY=q_a,q_b narrows the query
  * set; SPARK_GRAFT_EXPLAIN=1 prints each query's formatted plan to
  * stderr (stdout is the driver contract).
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** Scheduler counters of one timed run. */
  final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                            taskMs: Long = 0, shuffleBytes: Long = 0) {
    def taskS: Double = taskMs / 1e3
    def shuffleMb: Double = shuffleBytes / 1e6
  }

  /** One query's fastest run (`None` = the query threw) and that run's
    * counters. */
  final case class Measured(name: String, seconds: Option[Double],
                            counters: Option[Counters])

  /** Local property naming the timed run (`<query>#<iteration>`) that
    * submitted a job. */
  private val RunTag = "graft.bench.run"

  /** Attributes each tagged job, and its stages' tasks, executor run
    * time and shuffle bytes, to the job's run tag. Events arrive on the
    * listener-bus thread; read `byRun` only after draining the bus. */
  private final class RunCounters extends SparkListener {
    private val stageTag = TrieMap.empty[Int, String]
    val byRun = TrieMap.empty[String, Counters]
    private def add(tag: String)(f: Counters => Counters): Unit =
      byRun(tag) = f(byRun.getOrElse(tag, Counters()))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(RunTag)))
        .foreach { tag =>
          e.stageIds.foreach(stageTag(_) = tag)
          add(tag)(c => c.copy(jobs = c.jobs + 1))
        }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageTag.get(e.stageInfo.stageId).foreach { tag =>
        val m = Option(e.stageInfo.taskMetrics)
        add(tag)(c => c.copy(
          stages = c.stages + 1,
          tasks = c.tasks + e.stageInfo.numTasks,
          taskMs = c.taskMs + m.fold(0L)(_.executorRunTime),
          shuffleBytes = c.shuffleBytes + m.fold(0L)(t =>
            t.shuffleReadMetrics.totalBytesRead +
              t.shuffleWriteMetrics.bytesWritten)))
      }
  }

  private def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Min of `iters` runs per query, ROUND-ROBIN across queries: the
    * host shows bursty multi-second scheduling stalls (VM steal);
    * back-to-back iterations would let one burst poison all of a
    * query's samples, while interleaving puts each query's samples
    * minutes apart so min-of-N sees at least one calm window. A query
    * that throws is marked failed and not run again — a fail-fast
    * elapsed time must not make the bench look faster. The listener
    * bus is drained once, after the last run. */
  def measure(spark: SparkSession, queries: Seq[(String, Query)], dir: String,
              iters: Int, explain: Boolean = false): Seq[Measured] = {
    val sc = spark.sparkContext
    val counters = new RunCounters
    sc.addSparkListener(counters)
    val samples = scala.collection.mutable.Map.empty[String, List[(Double, String)]]
      .withDefaultValue(Nil)
    val broken = scala.collection.mutable.Set.empty[String]
    try {
      for (i <- 1 to iters; (name, fn) <- queries if !broken(name)) {
        val tag = s"$name#$i"
        sc.setLocalProperty(RunTag, tag)
        try {
          if (explain && i == 1)
            System.err.println(s"[bench] $name plan:\n" + fn(spark, dir)
              .queryExecution.explainString(ExplainMode.fromString("formatted")))
          val t0 = System.nanoTime()
          run(fn(spark, dir))
          samples(name) = ((System.nanoTime() - t0) / 1e9, tag) :: samples(name)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          broken += name
        }
      }
    } finally {
      sc.setLocalProperty(RunTag, null)
      ListenerBusBridge.drain(sc)
      sc.removeSparkListener(counters)
    }
    queries.map { case (name, _) =>
      val best = if (broken(name)) None else samples(name).minByOption(_._1)
      Measured(name, best.map(_._1),
        best.map(b => counters.byRun.getOrElse(b._2, Counters())))
    }
  }

  // Locale.ROOT: the f-interpolator uses the default locale, and a
  // comma-decimal host locale would emit invalid JSON
  private def num(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)
  private def total(rs: Seq[Measured]): Double = rs.flatMap(_.seconds).sum
  private def failedJson(rs: Seq[Measured]): String =
    rs.collect { case Measured(k, None, _) => "\"" + k + "\"" }.mkString("[", ",", "]")

  /** Full result object of one scale point: `queries` (name → seconds,
    * -1 = failed), `failed`, `sf` and the per-query `counters`. */
  def toJson(rs: Seq[Measured], dir: String): String = {
    val qs = rs.map(r => "\"" + r.name + "\":" + r.seconds.fold("-1")(num))
      .mkString("{", ",", "}")
    val cs = rs.flatMap(r => r.counters.map(c =>
      s""""${r.name}":{"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""task_s":${num(c.taskS)},"shuffle_mb":${num(c.shuffleMb)}}"""))
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${num(total(rs))},"unit":"sec","queries":$qs,"failed":${failedJson(rs)},"sf":"$dir","counters":$cs}"""
  }

  /** The short FINAL stdout line, the one bench tooling parses. A subset
    * run points `queries_in` at its own query names, not at
    * BENCH_FULL.json, which it did not write. */
  def headline(rs: Seq[Measured], sfDir: String, subset: Boolean): String = {
    val queriesIn =
      if (!subset) "\"BENCH_FULL.json\""
      else rs.map(r => s""""${r.name}"""").mkString("[", ",", "]")
    s"""{"metric":"total","value":${num(total(rs))},"unit":"sec","n_queries":${rs.size},"n_failed":${rs.count(_.seconds.isEmpty)},"failed":${failedJson(rs)},"queries_in":$queriesIn,"sf":"$sfDir"}"""
  }

  /** First 8 hex digits of the checked-out commit, or "unknown". */
  private def gitHead: String =
    try {
      def read(p: String) = new String(Files.readAllBytes(Paths.get(".git", p)), UTF_8).trim
      val head = read("HEAD")
      val sha =
        if (!head.startsWith("ref: ")) head
        else {
          val ref = head.drop(5)
          if (Files.exists(Paths.get(".git", ref))) read(ref)
          // after `git gc` the branch ref lives only in packed-refs
          // ("<sha> <ref>" lines) — without this fallback every post-gc
          // bench writes BENCH_FULL_unknown.json
          else read("packed-refs").linesIterator.map(_.split(' '))
            .collectFirst { case Array(sha, r) if r == ref => sha }.getOrElse("")
        }
      if (sha.length >= 8) sha.take(8) else "unknown"
    } catch { case _: Throwable => "unknown" }

  /** Listing hash of the benched dir (name × length × mtime). */
  private def fixtureGen(sfDir: String): String = {
    val files = Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty)
      .filter(_.isFile).sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("|")
    java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(files).toLong & 0xffffffffL)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("graft-bench")
    System.err.println(s"[bench] maxMemory=${Runtime.getRuntime.maxMemory() / (1 << 20)} MB" +
      s" cpus=${Runtime.getRuntime.availableProcessors()}")

    // warmup: touch every table + exercise codegen/shuffle machinery once
    Tables.all.foreach(t => Tables.load(spark, sfDir, t).count())
    run(SparkEntry.queries("q_pricing_summary")(spark, sfDir))

    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val explain = sys.env.contains("SPARK_GRAFT_EXPLAIN")
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val results = measure(spark, queries, sfDir, 3, explain)
    // Second scale point: a min-of-2 pass at the sibling sf0.01 dir
    // (when present) lands in BENCH_FULL.json only — a two-point
    // curve makes the next cross-round drift question answerable from
    // data (code change moves both points; fixture/host drift moves
    // them independently). stdout stays exactly the driver's one-line
    // contract. Canonical-path compare: a trailing slash or symlinked
    // spelling of sf0.01 itself must not re-bench it as its own second point.
    val sf = new java.io.File(sfDir).getCanonicalFile
    val secondDir = Option(sf.getParentFile).map(new java.io.File(_, "sf0.01"))
      .filter(d => d.isDirectory && d.getCanonicalFile != sf).map(_.getPath)
    val second = secondDir.map(d => toJson(measure(spark, queries, d, 2), d))
    // Provenance keys: BENCH_FULL.json is overwritten in place, so
    // `git_head` + `fixture_gen` pin WHICH code ran on WHICH fixture
    // generation; the file also lands beside the previous rounds' as
    // BENCH_FULL_<head>.json so drift attribution is a plain file diff.
    val head = gitHead
    val provenance = s""","git_head":"$head","fixture_gen":"${fixtureGen(sfDir)}""""
    val full = toJson(results, sfDir).dropRight(1) + provenance +
      second.fold("")(s => s""","second_scale":$s""") + "}"
    // The driver retains only the LAST ~2000 chars of stdout; a single
    // line with every per-query timing gets its FRONT truncated there
    // and can never re-parse. So: full line first (humans, logs), full
    // JSON also durably on disk in the repo, and a short headline
    // object as the FINAL line — small enough to always survive the
    // tail window intact.
    println(full)
    // a SPARK_GRAFT_BENCH_ONLY subset run must not clobber the
    // committed full-suite artifacts with a partial line
    if (only.isEmpty)
      Seq("BENCH_FULL.json", s"BENCH_FULL_$head.json").foreach(f =>
        Files.write(Paths.get(f), (full + "\n").getBytes(UTF_8)))
    println(headline(results, sfDir, subset = only.isDefined))
    spark.stop()
  }
}

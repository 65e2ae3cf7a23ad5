package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one way to start graft: every main and the test session build
  * their SparkSession here, so the session conf cannot drift between
  * copies. `local[cpus]` unless Spark's standard `spark.master` is set
  * (e.g. `spark-submit --master`); shuffle partitions = cpus; UTC; AQE
  * on; ANSI off (the reference's null-on-error semantics);
  * `nanosAsLong` (`events.ts` is TIMESTAMP(NANOS)); UI off; log level
  * WARN; [[graft.functions.GraftExtensions]] (graft_* functions in SQL
  * text, the materialized-aggregate rewrite). FileOutputCommitter v2
  * commits task files task-side instead of the driver moving every task
  * dir at job commit; its weaker guarantee (a failed job can leave
  * partial files) is immaterial because every LakehouseTable write lands
  * in a private staged dir that only an atomic rename publishes. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  private def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(appName: String, cpus: Int = defaultCpus,
            warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder().appName(appName)
    // new SparkConf() loads the spark.* system properties, which is
    // where spark-submit puts --master
    if (!new SparkConf().contains("spark.master")) b.master(s"local[$cpus]")
    b.config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    warehouseDir.foreach(b.config("spark.sql.warehouse.dir", _))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

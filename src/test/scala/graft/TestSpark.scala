package graft

import org.apache.spark.sql.SparkSession

object TestSpark {
  // database metadata dirs (registerAs("db.table")) land in tmp, not a
  // spark-warehouse dir polluting the repo checkout.
  // ExtensionsAndJsonSpec asserts the graft_* functions resolve in SQL
  // text because the factory injects GraftExtensions.
  lazy val spark: SparkSession =
    GraftSession("graft-test", cpus = 4, warehouseDir = Some(tmpDir("warehouse")))

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

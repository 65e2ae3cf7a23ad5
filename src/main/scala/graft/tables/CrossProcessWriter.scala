package graft.tables

/** Forked-JVM writer for the cross-PROCESS concurrency rehearsal
  * (CrossProcessSpec). The optimistic-concurrency protocol's
  * atomicity assumptions — create-exclusive commit records, atomic
  * renames, torn-marker-tolerant epoch reads — are filesystem-level
  * and must hold when the concurrent writer is a SEPARATE process
  * (the realistic two-jobs-one-table collision), not a thread sharing
  * this JVM's FileSystem object and memory model. This main is the
  * second process: it drives the same public [[LakehouseTable]] API
  * against a table path the spawning test is mutating concurrently.
  *
  * Handshake: the child touches `<syncDir>/ready` once its session is
  * up, then blocks for `<syncDir>/go` before mutating — so the parent
  * controls exactly when the child's mutation window opens relative
  * to its own. Results travel in the exit code (0 = mutations landed,
  * 3 = aborted on a conflict, 1 = unexpected error) so the parent
  * never parses logs.
  *
  * Modes:
  *   - `appender <table> <n> <syncDir>`: n appendBatch calls of one
  *     row each, keys 1000+i — the commuting side of the matrix.
  *   - `upserter <table> <part> <syncDir>`: one partition-scoped
  *     upsert of key 77 into the given partition — commuting iff the
  *     parent touches a disjoint partition.
  *   - `overwriter <table> <syncDir>`: one full overwrite to
  *     (999, "xproc-overwrite") — the non-commuting side.
  *   - `compactor <table> <syncDir>`: one whole-table fold compaction
  *     — commutes with the parent's concurrent appends.
  *   - `acker <table> <batchDir> <syncDir>`: one ackBatch handshake
  *     rename — commutes with appends, conflicts with a fold (the
  *     later beginner proceeds; the earlier publisher aborts, or the
  *     fold's done-twin backstop swallows a rename that slipped the
  *     residual window).
  */
object CrossProcessWriter {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val table = args(1)
    val syncDir = new java.io.File(args(args.length - 1))
    val spark = graft.GraftSession("graft-xproc-writer", cpus = 2)
    import spark.implicits._

    syncDir.mkdirs()
    require(new java.io.File(syncDir, "ready").createNewFile(),
      s"ready file already present in $syncDir")
    val goFile = new java.io.File(syncDir, "go")
    val deadline = System.currentTimeMillis() + 120000
    while (!goFile.exists()) {
      if (System.currentTimeMillis() > deadline)
        sys.exit(2) // parent never signalled
      Thread.sleep(50)
    }

    val code =
      try {
        mode match {
          case "appender" =>
            val n = args(2).toInt
            val t = LakehouseTable(spark, table, Seq("k"))
            (1 to n).foreach(i =>
              t.appendBatch(Seq((1000 + i, s"xproc-$i")).toDF("k", "v")))
            0
          case "upserter" =>
            val part = args(2)
            val t = LakehouseTable(spark, table, Seq("k"), Seq("part"))
            t.upsert(Seq((77, "xproc-up", part)).toDF("k", "v", "part"))
            0
          case "overwriter" =>
            val t = LakehouseTable(spark, table, Seq("k"))
            t.overwrite(Seq((999, "xproc-overwrite")).toDF("k", "v"))
            0
          case "compactor" =>
            val t = LakehouseTable(spark, table, Seq("k"))
            t.compact(512L * 1024 * 1024)
            0
          case "acker" =>
            val t = LakehouseTable(spark, table, Seq("k"))
            t.ackBatch(args(2))
            0
          case other =>
            System.err.println(s"unknown mode $other"); 1
        }
      } catch {
        case _: java.util.ConcurrentModificationException => 3
        case e: Throwable =>
          e.printStackTrace(); 1
      }
    spark.stop()
    sys.exit(code)
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** One-call builder for a session tuned the way the engine expects:
  * AQE on, shuffle partitions sized to cores (not the 200 default),
  * UTC timestamps, custom functions injected via [[GraftExtensions]].
  *
  * Two floors sit below the 100 TB sizes, for inputs of a few MB that
  * feed CPU-bound text kernels (tokenizer, quality gate, shingles and the
  * 64-hash MinHash signature, LSH band/verify). Spark sizes both for I/O,
  * where a few MB is not worth a task; here a few MB is seconds of CPU:
  *
  *  - `spark.sql.files.openCostInBytes` = 1 MB (Spark: 4 MB). A file
  *    split is `min(maxPartitionBytes, max(openCost, (bytes + files ×
  *    openCost) / cores))`, so at 4 MB any input under `cores × 4 MB`
  *    plans fewer splits than cores: one 4.2 MB jsonl plans a 4 MB split
  *    and a 24 KB tail, one core does the whole scan, and every
  *    layout-keeping pin and broadcast join downstream inherits that
  *    split. At 1 MB an input of a few MB fills every core, while a
  *    KB-size file (a lake batch, a staged parquet) still plans one split.
  *  - `spark.sql.adaptive.coalescePartitions.minPartitionSize` = 256 KB
  *    (Spark: 1 MB). AQE coalesces post-shuffle partitions toward
  *    `max(minPartitionSize, min(advisory, shuffleBytes / cores))`, so at
  *    1 MB a ~2 MB text shuffle folds into 2 tasks. At 256 KB a shuffle
  *    of a few MB keeps every core; a KB-size shuffle still coalesces to
  *    one task.
  *
  * At 100 TB neither floor binds: `bytes / cores` is far above both, so
  * the 256 MB `maxPartitionBytes` and the 128 MB advisory size govern.
  *
  * When a live session already exists (a shell, a test JVM, a second
  * `build`), `getOrCreate` would apply these runtime SQL confs to it under
  * its other users. `build` then returns a child session instead: it
  * shares the live SparkContext but has its own SQL conf, gets the
  * functions registered, and becomes this thread's active session. */
object GraftSession {
  def build(master: String = "local[*]",
            shufflePartitions: Int = Runtime.getRuntime.availableProcessors,
            appName: String = "graft"): SparkSession = {
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      // runtime skew mitigation: a pathological key (one user's events,
      // one hot token) splits into subpartitions instead of one straggler
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // coalesce tiny post-shuffle partitions toward the advisory size so
      // a 100 TB job doesn't schedule millions of near-empty reduce tasks
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "128m",
      // ...but on a small shuffle aim no lower than 256 KB a partition, so
      // a MB-size shuffle keeps its cores (see the class doc)
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "256k",
      // scan granularity: 256 MB splits keep the task count ~400k at
      // 100 TB — large enough to amortize scheduling, small enough that a
      // partition's rows fit executor memory with headroom for spill
      "spark.sql.files.maxPartitionBytes" -> "256m",
      // a 1 MB split floor, so an input of a few MB spreads over every core
      "spark.sql.files.openCostInBytes" -> "1m",
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.session.timeZone" -> "UTC")
    val live = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
    val spark = live match {
      case Some(existing) =>
        val child = existing.newSession()
        confs.foreach { case (k, v) => child.conf.set(k, v) }
        SparkSession.setActiveSession(child)
        child
      case None =>
        SparkSession.builder()
          .master(master)
          .appName(appName)
          .config(confs.toMap)
          .withExtensions(new GraftExtensions)
          .getOrCreate()
    }
    // a child session (or one another thread raced in) never saw the
    // extensions — make function registration unconditional
    functions.registerSql(spark)
    spark
  }
}

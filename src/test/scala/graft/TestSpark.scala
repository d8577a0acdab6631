package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (Spark startup ~5s). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.configure(
        SparkSession.builder().master("local[4]"), shufflePartitions = 4)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse-").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val JobTag = "graft.test.jobTag"

  /** Runs `body` and throws IllegalStateException before the first durable
    * commit step ([[graft.store.Commit.hook]]) that `pred` accepts. */
  def crashAt(pred: graft.store.Commit.Step => Boolean)(body: => Unit): Unit = {
    graft.store.Commit.hook.set { s =>
      if (pred(s)) throw new IllegalStateException(s"injected crash before ${s.op}")
    }
    try body finally graft.store.Commit.hook.remove()
  }

  /** A [[crashAt]] predicate for the last step of a staged-swap
    * compaction's seal ([[graft.streaming.CompactSwap]]): the marker
    * exists over complete staged dirs and nothing is swapped yet, so the
    * next compact() must roll the swap forward from the staged dirs. */
  val compactSealed: graft.store.Commit.Step => Boolean =
    s => s.op == "dirsync" && s.paths.head.getFileName.toString == "_compact_staged"

  /** [[crashAt]] the first commit step: for a single-commit protocol, the
    * widest crash window, with every write done and nothing published. */
  def crashAtFirstCommit(body: => Unit): Unit = crashAt(_ => true)(body)

  /** Runs `body` and returns its result with the number of Spark jobs it
    * launched. Jobs are told apart by a local property set on this thread
    * (inherited by the threads it starts), so jobs of other threads are not
    * counted, and a nested call counts its own jobs only. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val outer = sc.getLocalProperty(JobTag)
    sc.setLocalProperty(JobTag, tag)
    val (result, jobs) = try jobStarts(body) finally sc.setLocalProperty(JobTag, outer)
    (result, jobs.count(_._1 == tag))
  }

  /** Runs `body` and returns its result with the number of Spark jobs that
    * ran meanwhile in job group `group(result)` — a streaming query's jobs
    * run in the group named by its `runId`. */
  def jobsInGroup[T](body: => T)(group: T => String): (T, Int) = {
    val (result, jobs) = jobStarts(body)
    (result, jobs.count(_._2 == group(result)))
  }

  /** Runs `body` and returns its result with the (job tag, job group) of
    * every Spark job started meanwhile, in any thread. The listener bus is
    * asynchronous but delivers in order: a tagged sentinel job after `body`
    * flushes it, so once the sentinel's start is seen every earlier start
    * has been. */
  private def jobStarts[T](body: => T): (T, Seq[(String, String)]) = {
    val sc = spark.sparkContext
    val sentinel = java.util.UUID.randomUUID().toString + "/sentinel"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          val tag = p.getProperty(JobTag)
          if (tag == sentinel) flushed.countDown()
          else jobs.add((tag, p.getProperty("spark.jobGroup.id")))
        }
    }
    val outer = sc.getLocalProperty(JobTag)
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.setLocalProperty(JobTag, sentinel)
      sc.parallelize(Seq(1), 1).count()
      require(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the sentinel job")
      (result, jobs.toArray(Array.empty[(String, String)]).toSeq)
    } finally {
      sc.setLocalProperty(JobTag, outer)
      sc.removeSparkListener(listener)
    }
  }

  /** Executes `df` and sums the parquet scans' `numFiles` metric — the
    * file-level partition-pruning probe shared by the layout specs
    * (`DataFrame.inputFiles` ignores filters, so it can't observe pruning). */
  def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .map(_.metrics("numFiles").value).sum
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM startup dominates). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .appName("graft-tests")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** The Dataset actions (`count`, `isEmpty`, `localCheckpoint`, ...) that
    * `body` runs, by name, in the order they finished. */
  def actionsDuring(body: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(f)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(f)
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.graft.TestBusHook.waitUntilEmpty(spark)
    } finally spark.listenerManager.unregister(listener)
    seen.toArray(Array.empty[String]).toSeq
  }

  /** The number of Spark jobs that `body` starts. */
  def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    org.apache.spark.graft.TestBusHook.waitUntilEmpty(spark)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.graft.TestBusHook.waitUntilEmpty(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }
}

/** Temp dirs for a suite's tests, deleted with all they hold in a
  * `finally`, pass or fail: a [[tempDir]] when the test that made it ends,
  * a [[suiteTempDir]] (a fixture the suite's tests share) when the suite
  * ends. */
trait TempDirs extends org.scalatest.TestSuiteMixin { this: org.scalatest.TestSuite =>
  private val perTest, perSuite = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]

  private def make(prefix: String, owner: java.util.Queue[java.io.File]): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    owner.add(d)
    d.toString
  }

  private def drain(owner: java.util.Queue[java.io.File]): Unit =
    while (!owner.isEmpty) org.apache.commons.io.FileUtils.deleteQuietly(owner.poll())

  def tempDir(prefix: String): String = make(prefix, perTest)

  def suiteTempDir(prefix: String): String = make(prefix, perSuite)

  abstract override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    try super.withFixture(test) finally drain(perTest)

  abstract override def run(
      testName: Option[String], args: org.scalatest.Args): org.scalatest.Status =
    try super.run(testName, args) finally drain(perSuite)
}

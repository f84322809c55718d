package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (spark_guide: one session per
  * suite via lazy val; sharing across suites avoids repeated JVM-wide
  * context churn under `sbt test`).
  */
object SparkSpecBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // build the suite session THROUGH the extension entry point, so
      // every native-function use in the suite exercises the injected
      // registrations (ExtensionsSpec additionally pins newSession()
      // survival, which temp-function registration cannot provide)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config(GraftConf.contextDefaults)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftConf.bootstrap(s)
    graft.functions.VectorFunctions.registerNative(s)
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` with `key` set on the shared session, restoring the
    * previous value (or unsetting it) afterwards: suites share one
    * session, so a leaked conf would silently change every later test.
    */
  def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Select Pareto's execution arm through its dispatch conf: threshold
    * 0 forces the two-phase shape, the largest threshold the global
    * window.
    */
  def withParetoTwoPhase[A](twoPhase: Boolean)(body: => A): A =
    withConf(GraftConf.paretoTwoPhaseBytesKey,
      if (twoPhase) "0" else Long.MaxValue.toString)(body)

  /** Spark jobs started while `body` runs on this thread. A marker job
    * run after `body` bounds the count: the listener bus delivers events
    * in order, so once the marker's start arrives every earlier start
    * has too.
    */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup("jobs_probe", "counted body")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("jobs_marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("jobs_marker") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains("jobs_marker"), "the marker job never reached the listener")
      groups.toArray.count(_ == "jobs_probe")
    } finally sc.removeSparkListener(l)
  }
}

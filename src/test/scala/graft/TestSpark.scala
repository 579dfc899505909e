package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (forked JVM), on the
  * engine's `file:` filesystem ([[graft.sources.LocalFiles]]): the resource
  * is registered before the session, and the filesystem cache, exist. */
object TestSpark {
  lazy val spark: SparkSession = {
    graft.sources.LocalFiles.register()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** A fresh session with [[graft.plans.GraftExtensions]] over the shared
    * context (extensions apply only when a builder constructs a session, so
    * the default one is cleared for the build). [[spark]] stays the default
    * and active session. */
  def extensionSession(): SparkSession = {
    val orig = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions())
      .getOrCreate()
    finally {
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM per `sbt test` fork). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** One warehouse for every spec: Spark caches the catalog instance (with
    * its warehouse) at first use, so per-spec warehouses would silently
    * cross-wire depending on suite order. Specs isolate via namespaces. */
  lazy val warehouse: String = java.nio.file.Files
    .createTempDirectory(java.nio.file.Paths.get("target"), "wh-").toString

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A fresh session over the shared SparkContext with NO session
    * extensions — what a foreign Spark that only sets the catalog conf
    * gets. The builder cannot drop the context's `spark.sql.extensions`,
    * so it calls `classic.SparkSession`'s primary constructor (private in
    * Scala, public in bytecode) with empty extensions. */
  def withoutExtensions(): SparkSession = {
    import org.apache.spark.sql.{SparkSessionExtensions, classic}
    val shared = session.asInstanceOf[classic.SparkSession].sharedState
    classOf[classic.SparkSession].getConstructor(classOf[org.apache.spark.SparkContext],
        classOf[Option[_]], classOf[Option[_]],
        classOf[SparkSessionExtensions], classOf[Map[String, String]],
        classOf[Map[String, String]])
      .newInstance(session.sparkContext, Some(shared), None, new SparkSessionExtensions,
        Map.empty[String, String], Map.empty[String, String])
  }

  /** Run `body` with `s` as the thread's active session (the path source
    * resolves through the active session), then restore the shared one. */
  def active[A](s: SparkSession)(body: => A): A = {
    SparkSession.setActiveSession(s)
    try body finally SparkSession.setActiveSession(session)
  }
}

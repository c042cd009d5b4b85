package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites. One session per suite (forked JVM
  * reuses the singleton via getOrCreate, so the real cost is paid once). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // what a production session gets via GraftSession.builder: SQL
      // function registration + the property-predicate pushdown rule
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // and its codegen cache size: a static conf, read at the JVM's first
      // code generation, so the first session built in the JVM sets it
      .config("spark.sql.codegen.cache.maxEntries", GraftSession.CodegenCacheEntries)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

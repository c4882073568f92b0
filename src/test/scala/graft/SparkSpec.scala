package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, like the
  * reference's module-level fixtures).
  */
object SparkSpec {
  lazy val session: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
    Sessions.config.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The md5-content-order recompute used by take/split assertions. */
  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Driver-generated testdata root — overridable so the suites that pin
    * correctness against the sf tables stay runnable on other checkouts
    * (-Dgraft.testdata=… or GRAFT_TESTDATA=…).
    */
  lazy val testdataRoot: String =
    sys.props.get("graft.testdata")
      .orElse(sys.env.get("GRAFT_TESTDATA"))
      .getOrElse("/root/testdata")

  /** Cancel (not fail) a data-pinned test when the testdata is absent. */
  def requireTestdata(sfDir: String): Unit =
    assume(new java.io.File(sfDir).isDirectory,
      s"testdata absent at $sfDir — set -Dgraft.testdata or GRAFT_TESTDATA")

  def frame(st: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 2), st)

  def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  /** Every message down `t`'s cause chain, concatenated: an in-plan
    * `raise_error` reaches the caller wrapped in job-failure exceptions.
    */
  def messages(t: Throwable): String =
    if (t == null) "" else t.getMessage + messages(t.getCause)

  def collectSorted(df: DataFrame, by: String*): Seq[Row] =
    df.orderBy(by.map(org.apache.spark.sql.functions.col): _*).collect().toSeq

  /** The md5-content-order recompute used by take/split assertions —
    * delegates to the companion so non-SparkSpec suites (ScalaCheck
    * Properties objects) share the same definition.
    */
  def md5hex(s: String): String = SparkSpec.md5hex(s)
}

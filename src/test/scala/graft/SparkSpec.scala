package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(4)

  /** The test tables, one dir per scale (TESTDATA.md). */
  val TestData = "/root/testdata"
  val Sf0_001 = s"$TestData/sf0.001"
  val Sf0_01 = s"$TestData/sf0.01"
  val Sf0_1 = s"$TestData/sf0.1"
}

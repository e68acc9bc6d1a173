package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession per suite, configured as the mains'. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)
}

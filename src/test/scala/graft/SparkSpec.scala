package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Fresh MemoryStream with an auto-assigned id (Spark 4 location). */
  def memStream[A](implicit enc: org.apache.spark.sql.Encoder[A])
      : org.apache.spark.sql.execution.streaming.runtime.MemoryStream[A] =
    org.apache.spark.sql.execution.streaming.runtime.MemoryStream[A](enc, spark)
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.local(4, "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

package graft

import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
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

  private var tempRoot: Path = null

  /** A new empty directory under this suite's temp root, which
    * `afterAll` deletes with everything in it. The one place specs
    * create temp dirs (`ToolCommandsSpec` guards this). */
  def tempDir(prefix: String): String = synchronized {
    if (tempRoot == null)
      tempRoot = Files.createTempDirectory(s"graft-spec-${getClass.getSimpleName}-")
    Files.createTempDirectory(tempRoot, prefix).toString
  }

  override def afterAll(): Unit =
    try synchronized { if (tempRoot != null) FileUtils.deleteQuietly(tempRoot.toFile) }
    finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.local(4, "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

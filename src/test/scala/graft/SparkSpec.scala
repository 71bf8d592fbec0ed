package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (sf0.001 data). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // shared session; left open across suites

  /** Epoch millis of a collected timestamp value, whatever external
    * type the column maps to — the test data's `ts` is TIMESTAMP_NTZ
    * micros (read as a UTC wall-clock), streaming frames use
    * session-zoned TIMESTAMP.
    */
  def tsEpochMs(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime
    case d: java.time.LocalDateTime =>
      d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000L + d.getNano / 1000000L
    case i: java.time.Instant => i.toEpochMilli
    case other => fail(s"not a timestamp value: $other (${other.getClass})")
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession("4", Seq(
    "spark.app.name" -> "graft-test", GraftSession.Utc,
    "spark.sql.warehouse.dir" -> java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}

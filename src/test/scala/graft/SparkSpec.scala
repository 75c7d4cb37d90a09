package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs — Bench's session confs through
  * [[GraftSession.local]], pinned to 4 cores whatever SPARK_GRAFT_CPUS says,
  * so streaming specs keep 4 state-store partitions on any host. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = { /* shared session: leave running */ }
}

object SparkSpec {
  lazy val session: SparkSession =
    GraftSession.local(cpus = 4, overrides = Seq("spark.app.name" -> "graft-test"))
}

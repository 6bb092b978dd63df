package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  /** 4 cores whatever SPARK_GRAFT_CPUS says, so test parallelism does not
    * follow the host. */
  lazy val session: SparkSession =
    GraftSession.local(4)
}

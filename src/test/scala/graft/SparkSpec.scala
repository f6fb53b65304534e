package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture: one session per suite, the bench's
  * [[GraftSession]] shape at 4 cores (so tiny tests don't pay
  * 200-partition overhead). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession =
    GraftSession.builder(4).appName(getClass.getSimpleName).getOrCreate()

  override def afterAll(): Unit = {
    // session is shared across suites in one JVM; don't stop it here.
    super.afterAll()
  }
}

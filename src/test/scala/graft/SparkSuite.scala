package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** A suite that runs on the session every main runs on: [[Session.build]]
  * in `beforeAll`, `stop()` in `afterAll`. Its core count follows
  * `SPARK_GRAFT_CPUS`, so a fixture that depends on it reads
  * `spark.sparkContext.defaultParallelism` rather than assuming a count.
  */
trait SparkSuite extends BeforeAndAfterAll { this: Suite =>

  protected var spark: SparkSession = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark = Session.build()
  }

  override def afterAll(): Unit =
    try if (spark != null) spark.stop() finally super.afterAll()
}

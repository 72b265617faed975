package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkContext for all suites; each suite gets its OWN
  * SparkSession via newSession() so suite-local conf mutations
  * (state-store provider flips, autoBroadcast/AQE toggles, …) cannot
  * leak into — or race with — other suites. This is what makes
  * PARALLEL suite execution (build.sbt `Test / testForkedParallel`)
  * safe: the r15 driver run was budget-killed mid-suite at 392 tests /
  * ~24 min sequential wall; suites are independent Spark jobs that
  * back-fill each other's idle scheduler slots (optimization-guide
  * §2.6), and sessions/temp views/streams managers are per-session. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session.newSession()
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(8, 4)
}

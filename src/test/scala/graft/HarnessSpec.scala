package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The one local session and output escaping shared by the harness
  * mains (`Bench`, `Verify`, `Profile`, `Explain`).
  */
class HarnessSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  test("the harness session carries the shared local config") {
    val base = SparkSpec.spark // ensure the shared SparkContext exists
    val sfBefore = sys.props.get("graft.sf.dir")
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // a new session over the suite's shared context: the SQL settings are
    // the harness's own, while master and UI stay the context's
    val s = Harness.session(sf)
    try {
      assert(s ne base)
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "false")
      assert(s.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "1000000")
      assert(s.conf.get("spark.sql.shuffle.partitions").toInt ==
        Sizing.shufflePartitions(sf, Harness.cpus()))
      assert(sys.props.get("graft.sf.dir").contains(sf))
    } finally {
      // do NOT stop it: that would stop the suite's shared SparkContext;
      // restore the shared session as default/active for other suites
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
      sfBefore match {
        case Some(v) => System.setProperty("graft.sf.dir", v)
        case None => System.clearProperty("graft.sf.dir")
      }
    }
  }

  test("cpus falls back to the processor count when SPARK_GRAFT_CPUS is unset") {
    assert(Harness.cpus(Map.empty) == Runtime.getRuntime.availableProcessors)
    assert(Harness.cpus(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
  }

  test("jsonString escapes quote, backslash and control chars losslessly") {
    val raw = "/data/\"sf\"\\0.1\t\n\r\u0001end"
    val quoted = Harness.jsonString(raw)
    assert(!quoted.exists(_ < ' '))
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(quoted, classOf[String])
    assert(parsed == raw)
  }
}

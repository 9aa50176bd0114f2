package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session conf is a pure function of (cpus, env), so these pins
  * start no session. */
class HarnessSessionSpec extends AnyFunSuite {

  private val protocol4 = Seq(
    "spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  test("Bench and Verify get the protocol pairs at cpus=4 with no dial set") {
    assert(HarnessSession.conf("4", Map.empty) == protocol4)
  }

  test("SPARK_GRAFT_MASTER replaces the master; extra confs follow the protocol") {
    val env = Map("SPARK_GRAFT_MASTER" -> "local-cluster[2,4,2048]",
      "SPARK_GRAFT_EXTRA_CONF" -> "spark.jars=/x.jar")
    assert(HarnessSession.conf("8", env, master = Some("local[2]")) ==
      Seq("spark.master" -> "local-cluster[2,4,2048]",
        "spark.sql.shuffle.partitions" -> "8") ++ protocol4.drop(2) ++
      Seq("spark.jars" -> "/x.jar"))
    assert(HarnessSession.conf("8", Map.empty, master = Some("local[2]"))
      .head == "spark.master" -> "local[2]")
  }

  test("SPARK_GRAFT_EXTRA_CONF entries are trimmed and keep '=' in values") {
    assert(HarnessSession.extraConf(
      Some(" spark.memory.fraction=0.05 ;; k=v=w ;")) ==
      Seq("spark.memory.fraction" -> "0.05", "k" -> "v=w"))
    assert(HarnessSession.extraConf(None).isEmpty)
  }

  test("a malformed SPARK_GRAFT_EXTRA_CONF entry fails naming the entry") {
    val e = intercept[RuntimeException](
      HarnessSession.extraConf(Some("a=b; novalue ")))
    assert(e.getMessage ==
      "SPARK_GRAFT_EXTRA_CONF entry is not key=value: 'novalue'")
  }

  test("no main source but HarnessSession calls SparkSession.builder()") {
    val files = MainSources.files
    assert(files.size > 10)
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val callers = files
      .filter(p => builder.findFirstIn(MainSources.code(p)).isDefined)
      .map(_.getFileName.toString)
    assert(callers == Seq("HarnessSession.scala"))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** The engine's own session keys are a closed list: every other
  * setting is a constant or an explicit argument. A new
  * `spark.graft.*` read must be added here on purpose. */
class ConfKeysSpec extends AnyFunSuite {

  test("the spark.graft.* keys read under src/main/scala are checkpointDir and pinnedLevel") {
    val key = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r
    val keys = MainSources.files
      .flatMap(p => key.findAllMatchIn(MainSources.code(p)).map(_.group(1)))
      .toSet
    assert(keys == Set("spark.graft.checkpointDir", "spark.graft.pinnedLevel"))
  }
}

package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Every oracle string is pinned by its SHA-256, so a refactor of the
  * oracle builders proves byte-identity without running DuckDB, and any
  * deliberate oracle edit shows up as a one-line diff of the
  * fingerprint file. Starts no Spark session. */
class OracleSqlSpec extends AnyFunSuite {

  test("every SparkEntry.oracleSql string matches its committed SHA-256") {
    val committed = Files.readAllLines(OracleSqlFingerprints.file, UTF_8)
      .toArray(Array.empty[String]).toSeq
    val current = OracleSqlFingerprints.lines
    val drift = ((current diff committed) ++ (committed diff current))
      .map(_.takeWhile(_ != '\t')).distinct.sorted
    assert(current == committed, s"oracle SQL differs for: ${drift.mkString(", ")}")
  }
}

/** `name<TAB>sha256` of every oracle string, sorted by name.
  * Regenerate the committed file after a deliberate oracle change:
  * `sbt 'Test/runMain graft.OracleSqlFingerprints'`. */
object OracleSqlFingerprints {

  val file: Path = Paths.get("src", "test", "resources", "oracle_sql.sha256")

  def lines: Seq[String] = SparkEntry.oracleSql.toSeq.sortBy(_._1).map {
    case (name, sql) =>
      val h = MessageDigest.getInstance("SHA-256").digest(sql.getBytes(UTF_8))
      name + "\t" + h.map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit =
    Files.write(file, (lines.mkString("\n") + "\n").getBytes(UTF_8))
}

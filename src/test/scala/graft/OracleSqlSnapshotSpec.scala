package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins every oracle SQL string against a checked-in snapshot,
  * `src/test/resources/oracle_sql.json` — the file `graft.Verify` writes,
  * rendered with the default side-table dir. A query refactor that must
  * not move the DuckDB comparison keeps this spec green unedited; a
  * declared oracle change regenerates the resource in the same change.
  * Spark-free: it reads the two registries and starts no session. */
class OracleSqlSnapshotSpec extends AnyFunSuite {

  private lazy val snapshot: Map[String, String] = {
    val in = getClass.getResourceAsStream("/oracle_sql.json")
    assert(in != null, "oracle_sql.json is missing from src/test/resources")
    try new ObjectMapper().readTree(in).properties().asScala
      .map(e => e.getKey -> e.getValue.textValue()).toMap
    finally in.close()
  }

  private def requireDefaultSideDir(): Unit =
    assume(SparkEntry.sideDir == "/tmp/graft_side",
      s"the snapshot embeds side-table paths under /tmp/graft_side; " +
        s"GRAFT_SIDE_DIR moves them to ${SparkEntry.sideDir}")

  test("snapshot keys equal the oracle SQL keys and the query keys") {
    requireDefaultSideDir()
    assert(snapshot.keySet == SparkEntry.oracleSql.keySet)
    assert(snapshot.keySet == SparkEntry.queries.keySet)
  }

  test("every oracle SQL string equals its snapshot") {
    requireDefaultSideDir()
    val changed = SparkEntry.oracleSql.collect {
      case (name, sql) if snapshot.get(name).exists(_ != sql) => name
    }
    assert(changed.isEmpty, s"oracle SQL differs from the snapshot: " +
      changed.toSeq.sorted.mkString(", "))
  }
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Writes the catalog's DuckDB oracle SQL (`QueryCatalog.oracleSql`) as a
  * JSON object to the path given as the only argument; `oracle_check.py`
  * runs it against the benchmark's inputs. */
object OracleDump {
  def main(argv: Array[String]): Unit =
    Files.write(Paths.get(argv(0)), Serialization.write(graft.QueryCatalog.oracleSql)(DefaultFormats).getBytes(UTF_8))
}

package perfbench

import java.nio.file.{Files, Paths}

import graft.Registry

/** Writes every registry query's oracle SQL (null where a query has none)
  * as one JSON object, so the checker can run it in DuckDB.
  * Usage: `perfbench.OracleDump <out.json>`. */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val body = Registry.all.map(q => s"${Json.str(q.name)}:${Json.str(q.oracle.orNull)}")
    Files.writeString(Paths.get(args(0)), body.mkString("{", ",\n", "}"))
  }
}

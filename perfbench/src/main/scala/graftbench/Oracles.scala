package graftbench

import com.fasterxml.jackson.databind.ObjectMapper

import scala.jdk.CollectionConverters._

/** Prints, as one JSON object, the DuckDB oracle SQL the corpus declares for
  * each named query (queries without an oracle are left out).
  *
  * Usage: Oracles <query> [<query> ...]
  */
object Oracles {
  def main(args: Array[String]): Unit = {
    val all = graft.SparkEntry.oracleSql
    println(new ObjectMapper().writeValueAsString(
      args.flatMap(n => all.get(n).map(n -> _)).toMap.asJava))
  }
}

package soilbench

import graft.{Json, SparkEntry}

/** Prints the DuckDB oracle SQL of the given operations (registered
  * queries and [[IoOps]]) as one JSON object, without starting Spark.
  * `soilbench/fidelity.py` runs it to compare operation outputs on two
  * lakes.
  *
  * Usage: OracleSql <ops,comma,separated>
  */
object OracleSql {
  def main(argv: Array[String]): Unit = {
    val all = SparkEntry.oracleSql ++ new IoOps("").oracle
    val ops = argv(0).split(",").toSeq
    val missing = ops.filterNot(all.contains)
    require(missing.isEmpty, s"no oracle for: ${missing.mkString(",")}")
    println(ops.map(op => s"${Json.str(op)}:${Json.str(all(op))}")
      .mkString("{", ",", "}"))
  }
}

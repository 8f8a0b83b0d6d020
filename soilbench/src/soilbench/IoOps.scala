package soilbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Tables
import graft.io.{Lake, PipeCsv}

/** Write-path operations of the `survey_refresh` workload, built from
  * the engine's public `graft.io` calls. The registered queries that
  * land files (s01, s04, s13, s18, st04, ...) write to fixed `/tmp`
  * roots; these land under the run's own scratch root instead, so a run
  * writes nothing outside its checkout. Each one lands a table and
  * returns the read-back frame, which the noop sink then scans; its
  * oracle is the source table in DuckDB, so the round trip must be
  * lossless. */
final class IoOps(scratch: String) {

  private def customer(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"))

  private def orders(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))

  val ops: Map[String, (SparkSession, String) => DataFrame] = Map(
    // a survey's tabular drop: pipe-delimited cp1252 text through the
    // schema'd reader
    "io_pipe_csv_roundtrip" -> { (s, dir) =>
      val df = customer(s, dir)
      val path = s"$scratch/pipe/customer"
      PipeCsv.write(df, path)
      PipeCsv.read(s, path, df.schema)
    },
    // the partitioned parquet lake: one directory per partition value
    "io_lake_partitioned" -> { (s, dir) =>
      Lake.write(orders(s, dir), s"$scratch/lake", "orders",
        partitionBy = Seq("o_orderpriority"))
      Lake.read(s, s"$scratch/lake", "orders")
    })

  val oracle: Map[String, String] = Map(
    "io_pipe_csv_roundtrip" ->
      "SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer",
    "io_lake_partitioned" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
        "o_orderpriority FROM orders"))
}

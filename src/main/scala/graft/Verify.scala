package graft

/** Correctness dump: `<sfDir> <outDir> [q,…]` → each SparkEntry.queries
  * result as parquet plus oracle_sql.json, for the DuckDB oracle compare
  * (`scripts/oracle_check.py`, [[Harness.verify]]). Its name and output
  * format are a fixed contract. */
object Verify {
  def main(args: Array[String]): Unit = Harness.main("verify" +: args)
}

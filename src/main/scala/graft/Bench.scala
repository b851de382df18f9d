package graft

/** Benchmark main: prints ONE JSON line — the query sweep and the N/4N
  * scaling measurement ([[Harness.bench]]). Its name and output format are
  * a fixed contract. */
object Bench {
  def main(args: Array[String]): Unit = Harness.main(Array("bench"))
}

package graft

/** Flagship smoke: SparkEntry.entry at sf0.001 must yield violation rows > 0
  * ([[Harness.smoke]]). Its name and output format are a fixed contract. */
object EntrySmoke {
  def main(args: Array[String]): Unit = Harness.main(Array("smoke"))
}

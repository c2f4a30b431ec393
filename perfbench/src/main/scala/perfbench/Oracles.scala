package perfbench

/** Writes the oracle SQL of every benchmarked key as JSON to the path given,
  * for gen_digests.py. */
object Oracles {
  def main(args: Array[String]): Unit = {
    val keys = Queries.dedupGraph
    Json.write(args(0), graft.SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) })
  }
}

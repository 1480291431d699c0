package perfbench

/** Writes every SparkEntry operator key and its DuckDB oracle SQL as
  * JSON, so run.py can build the operator workload and its oracle.
  *
  * Usage: Keys <out.json> */
object Keys {
  def main(args: Array[String]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val out = mapper.createObjectNode()
    val keys = out.putArray("keys")
    graft.SparkEntry.queries.keys.toSeq.sorted.foreach(keys.add)
    val oracles = out.putObject("oracles")
    graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) => oracles.put(k, v) }
    mapper.writeValue(new java.io.File(args(0)), out)
  }
}

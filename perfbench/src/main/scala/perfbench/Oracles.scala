package perfbench

import java.nio.file.{Files, Paths}

/** Writes the oracle SQL for every checked query, for `tools/oracle.py`:
  * each sql_star template instance (policy applied through the
  * `gcustomer` view) and each corpus op's `SparkEntry.oracleSql` entry.
  */
object Oracles {
  def dump(path: String): Unit = {
    val sql = SqlStar.templates.flatMap(t => t.instances.map(l => t.key(l) -> t.oracle(l))).toMap
    val oracle = graft.SparkEntry.oracleSql
    val corpus = CorpusOps.ops.map(n => n -> oracle.getOrElse(n, "")).toMap
    Files.writeString(Paths.get(path), Json.render(Map(
      "views" -> Map("gcustomer" -> SqlStar.governedCustomerOracle),
      "sql_star" -> sql, "corpus_ops" -> corpus)))
  }
}

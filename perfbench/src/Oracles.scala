package perfbench

import graft.SparkEntry

/** Writes the DuckDB oracle SQL of every checked key, plus the harness
  * statements the `repl` stream sends, for `perfbench/gen_expected.py`. */
object Oracles {
  def dump(out: String): Unit = {
    val oracles = SparkEntry.oracleSql
    val keys = Olap.Keys ++ Llm.Keys
    val missing = Olap.Keys.filterNot(oracles.contains)
    require(missing.isEmpty, s"olap keys without oracle SQL: $missing")
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.println(Json.write(Json.obj(
      "olap_keys" -> Olap.Keys,
      "oracles" -> Json.obj(keys.filter(oracles.contains).map(k => k -> oracles(k)): _*),
      "repl_harness_sql" -> ReplLoad.HarnessSql)))
    finally w.close()
  }
}

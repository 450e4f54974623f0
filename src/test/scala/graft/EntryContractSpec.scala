package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver-contract invariants of [[SparkEntry]] that nothing else
  * pins: every gate must carry a live DuckDB oracle (a `queries` entry
  * without an `oracleSql` entry silently degrades the driver's check to
  * rows-only — exactly the regression class round-11 retired the last
  * golden pin to prevent), and no oracle may name a gate that does not
  * exist (a renamed gate would otherwise leave its oracle checking
  * nothing). Every gate is declared once, so the registry's declared
  * names must be unique and complete. Pure list and map comparisons —
  * no Spark session.
  */
class EntryContractSpec extends AnyFunSuite {

  test("every gate has an oracle and every oracle has a gate (1:1)") {
    val gates = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    val missingOracle = gates -- oracles
    val orphanOracle = oracles -- gates
    assert(missingOracle.isEmpty,
      s"gates without a DuckDB oracle (driver falls back to rows-only): " +
        missingOracle.toSeq.sorted.mkString(", "))
    assert(orphanOracle.isEmpty,
      s"oracles naming no gate: ${orphanOracle.toSeq.sorted.mkString(", ")}")
  }

  test("oracle SQL bodies are non-empty") {
    // (no semicolon/single-statement heuristic: several oracles carry
    // literal ';' inside HTML-entity test strings)
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, s"$name oracle is empty")
    }
  }

  test("declared gate names are unique and number exactly 172") {
    val names = SparkEntry.declared.map(_.name)
    val twice = names.diff(names.distinct)
    assert(twice.isEmpty, s"gates declared twice: ${twice.sorted.mkString(", ")}")
    assert(names.size == 172)
    assert(SparkEntry.queries.keySet == names.toSet)
  }
}

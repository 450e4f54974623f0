package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The driver-contract invariants of [[SparkEntry]] that nothing else
  * pins: every gate must carry a live DuckDB oracle (a `queries` entry
  * without an `oracleSql` entry silently degrades the driver's check to
  * rows-only — exactly the regression class round-11 retired the last
  * golden pin to prevent), and no oracle may name a gate that does not
  * exist (a renamed gate would otherwise leave its oracle checking
  * nothing). Every gate is declared once, so the registry's declared
  * names must be unique and complete. Every oracle's text is pinned by
  * its SHA-256 in `docs/oracle_sql.sha256`, so a refactor cannot change
  * what DuckDB replays without a one-line diff to that file. Pure list,
  * map and hash comparisons — no Spark session.
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

  test("every oracle's text matches its pin in docs/oracle_sql.sha256") {
    val pinned = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("docs/oracle_sql.sha256")).asScala
      .filter(_.trim.nonEmpty).map { l =>
        val Array(name, sha) = l.trim.split("\\s+"); name -> sha
      }.toMap
    // the stage path comes from SPARK_GRAFT_STAGE_DIR: pin the text around it
    val stage = gates.DedupGates.minhashPairsStagePath
    val current = SparkEntry.oracleSql.map { case (name, sql) =>
      val bytes = sql.replace(stage, "<minhash_pairs_stage>").getBytes("UTF-8")
      name -> java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
        .map("%02x".format(_)).mkString
    }
    val changed = (current.keySet ++ pinned.keySet).toSeq.sorted
      .filter(n => current.get(n) != pinned.get(n))
    assert(changed.isEmpty,
      s"oracle text differs from its pin for ${changed.mkString(", ")}; if the " +
        "change is meant, put these lines in docs/oracle_sql.sha256 (delete " +
        "the line of a gate marked gone):\n" + changed.map(n =>
          current.get(n).fold(s"$n  (gone)")(sha => s"$n $sha")).mkString("\n"))
  }
}

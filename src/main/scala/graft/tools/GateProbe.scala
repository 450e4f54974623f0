package graft.tools

import scala.util.control.NonFatal

/** Ad-hoc per-gate timing probe: runs the named gates (args) against
  * SPARK_GRAFT_SF_DIR with Bench's noop-sink discipline, min-of-N
  * (SPARK_GRAFT_PROBE_PASSES, default 3), clearing shared relations
  * between passes exactly like Bench so shared-build costs land in the
  * first consumer. Prints one `gate min avg` line per gate.
  */
object GateProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PROBE_PASSES", "3").toInt
    val spark = graft.LocalSpark.session(defaultCpus = 32)
    val unknown = args.toSeq.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown gate(s): ${unknown.mkString(", ")}")
    val gates = args.toSeq
    require(gates.nonEmpty, "usage: GateProbe <gate> [gate...]")
    // one warm pass (discarded) so JIT/codegen/footers don't skew pass 1
    graft.SparkEntry.clearSharedRelations()
    gates.foreach { g =>
      try graft.SparkEntry.queries(g)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      // NonFatal only: after an OutOfMemoryError or other fatal JVM error
      // every later timing would run in a corrupted JVM — let those abort
      catch { case NonFatal(e) => System.err.println(s"[probe] warm $g: $e") }
      spark.catalog.clearCache()
    }
    val times = collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    (1 to passes).foreach { _ =>
      graft.SparkEntry.clearSharedRelations()
      gates.foreach { g =>
        val t0 = System.nanoTime()
        // a failing gate records no timing but must not abort the probe —
        // the already-collected measurements are the point
        try {
          graft.SparkEntry.queries(g)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          times(g) = ((System.nanoTime() - t0) / 1e9) :: times(g)
        } catch { case NonFatal(e) =>
          System.err.println(s"[probe] $g FAILED: ${e.getMessage}")
        } finally spark.catalog.clearCache()
      }
    }
    gates.foreach { g =>
      val ts = times(g)
      if (ts.isEmpty) println(f"[probe] $g%-24s FAILED every pass")
      else println(f"[probe] $g%-24s min=${ts.min}%.3f avg=${ts.sum / ts.size}%.3f passes=${ts.size}")
    }
    graft.LocalSpark.stop(spark)
  }
}

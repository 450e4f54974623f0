package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON metrics line.
  *
  * Each query is fully executed via the noop sink (count() would let
  * Catalyst prune the very expressions under test). Single cold-JVM passes
  * swing +/-2x on multi-second queries (JIT/codegen-compile/GC timing; a
  * contended driver box is worse), so a second pass runs whenever the
  * first stays within SPARK_GRAFT_BENCH_BUDGET and each query reports its
  * minimum; the `iterations` field records which. The default budget
  * SCALES WITH THE GATE COUNT — max(240s, 5s x queries) — because a fixed
  * 240s stopped fitting a cold pass once the suite grew past ~60 gates
  * (round 5 shipped a single-cold-pass bench that was unusable for
  * round-over-round comparison); set the env to override.
  *
  * `--warmup` (or SPARK_GRAFT_BENCH_WARMUP=1): before the timed passes,
  * run EVERY gate once against a tiny fixture (SPARK_GRAFT_WARMUP_SF_DIR,
  * default sf0.001) with timings discarded — JIT + codegen + parquet
  * footer caches warm per-gate, not just per-JVM. This exists for the
  * big-SF single-pass sweeps, where cold-start inflated 13 of the
  * round-11 sf10 decade factors >2x and forced ad-hoc warm re-measures
  * (SCALE.md); with warmup the sweep's factors are trustworthy directly.
  * The driver's sf0.1 runs don't need it (min-of-3 already de-colds).
  *
  * `--isolated` (or SPARK_GRAFT_BENCH_ISOLATED=1): after the suite
  * passes, re-probe gates one at a time — forced GC + short settle
  * before each of 3 reps, min reported — and emit the result as a
  * SECOND column (`isolated`/`isolated_sec`) next to the in-suite one.
  * In-suite numbers carry neighbors' GC debt and suite-position noise
  * (round 13 measured +5..13%% total drift on unchanged code while every
  * flagged gate re-probed at parity in isolation); the isolated column
  * is the round-over-round comparable one, now recorded in the artifact
  * instead of reconstructed ad hoc in SCALE.md prose. Shared relations
  * stay warm from the suite passes, so isolated = per-gate steady state
  * excluding one-time shared builds. SPARK_GRAFT_BENCH_PRIOR=<path to a
  * previous bench JSON line> restricts the re-probe to gates whose
  * in-suite min regressed >1.25x vs that artifact's isolated (preferred)
  * or in-suite column — the cheap attribution mode.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmup = args.contains("--warmup") ||
      sys.env.get("SPARK_GRAFT_BENCH_WARMUP").exists(v => v == "1" || v == "true")
    val isolated = args.contains("--isolated") ||
      sys.env.get("SPARK_GRAFT_BENCH_ISOLATED").exists(v => v == "1" || v == "true")
    val warmupDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_SF_DIR",
      "/root/testdata/sf0.001")
    // local-iteration aid only (never set by the driver): restrict the
    // suite to a comma-separated gate subset. Shared-relation accounting
    // keeps the suite semantics (cleared per pass, built by first consumer).
    val onlyGates: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    val secondPassBudget = sys.env.get("SPARK_GRAFT_BENCH_BUDGET").map(_.toDouble)
      .getOrElse(math.max(240.0, 5.0 * SparkEntry.queries.size))
    val spark = LocalSpark.session(defaultCpus = 4)

    // warm the JVM/session once (codegen, parquet footers)
    try SparkEntry.queries("q1_agg")(spark, sfDir).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }

    // streaming gates: wall time conflates the per-gate harness (landing
    // staging, schema reads, checkpoint bootstrap, sink read-back) with the
    // micro-batch execution; FileStreams meters the latter, and the bench
    // reports it per gate so operator regressions stay visible under the
    // ~fixed harness cost (min-of-passes, like the wall times)
    val streamOperatorSec =
      scala.collection.mutable.Map.empty[String, Double].withDefaultValue(-1.0)

    def pass(only: String => Boolean = _ => true,
        dir: String = sfDir): Seq[(String, Double)] = {
      // drop cross-gate checkpoints so every pass pays each shared
      // relation's build exactly once (in its first consumer) — otherwise
      // the min-of passes would report only the checkpoint-read cost and
      // the build would vanish from the totals
      SparkEntry.clearSharedRelations()
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(p => onlyGates.forall(_.contains(p._1)))
        .filter(p => only(p._1)).map { case (name, fn) =>
        val op0 = graft.streaming.FileStreams.operatorMsSnapshot
        val t0 = System.nanoTime()
        val ok = try {
          fn(spark, dir).write.format("noop").mode("overwrite").save(); true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val opSec = (graft.streaming.FileStreams.operatorMsSnapshot - op0) / 1e3
        // a warmup pass at a different SF must not pollute the reported
        // streaming operator minima
        if (ok && opSec > 0 && dir == sfDir) {
          val prev = streamOperatorSec(name)
          streamOperatorSec(name) = if (prev < 0) opSec else math.min(prev, opSec)
        }
        spark.catalog.clearCache() // queries are self-contained; don't let one
                                   // query's persisted frames pressure the next
        name -> (if (ok) dt else -1.0)
      }
    }

    if (warmup) {
      val t0 = System.nanoTime()
      val warmed = pass(dir = warmupDir)
      System.err.println(f"[bench] warmup pass over ${warmed.size} gates at " +
        f"$warmupDir in ${(System.nanoTime() - t0) / 1e9}%.1f s (timings discarded)")
    }

    // box-load context for cross-round comparisons: single passes swing
    // ±30% with co-tenant load, so every JSON line carries the 1-min
    // loadavg observed when it was printed (readers should trust
    // within-run minima, and discount rounds benched on a loaded box)
    def loadAvg: Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }

    // isolated column, filled after the suite passes when --isolated is on
    var isolatedResults: Seq[(String, Double)] = Nil

    def jsonLine(results: Seq[(String, Double)], iters: Int): String = {
      val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      val total = results.map(_._2).filter(_ >= 0).sum
      // streaming split: operator = engine-clocked micro-batch execution,
      // harness = the rest of the gate's wall time (staging/checkpoint/
      // read-back). Totals let round-over-round diffs see which moved.
      val opMap = streamOperatorSec.toSeq.sortBy(_._1)
      val ops = opMap.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      val opTotal = opMap.map(_._2).filter(_ >= 0).sum
      val streamWall = results
        .filter { case (k, v) => v >= 0 && streamOperatorSec.contains(k) }
        .map(_._2).sum
      val harnessTotal = math.max(0.0, streamWall - opTotal)
      val iso = if (isolatedResults.isEmpty) "" else {
        val m = isolatedResults.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
          .mkString("{", ",", "}")
        val isoTotal = isolatedResults.map(_._2).filter(_ >= 0).sum
        f""","isolated":$m,"isolated_sec":$isoTotal%.3f"""
      }
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","iterations":$iters,"loadavg_1m":$loadAvg%.2f,"stream_operator":$ops,"stream_operator_sec":$opTotal%.3f,"stream_harness_sec":$harnessTotal%.3f$iso}"""
    }

    // per-query minimum over up to 3 passes: single passes swing ±30% on
    // multi-second queries. The SECOND pass (cold -> warm, the big
    // correction) runs whenever pass1 fits the full budget; the THIRD
    // (variance trim only) requires the projected total to fit a tighter
    // 2/3 cap, so a slow/contended box never risks an external runner
    // timeout for a marginal gain.
    var results = pass()
    var prevPass = results.toMap
    var spent = results.map(_._2).filter(_ >= 0).sum
    var lastTotal = spent
    var iters = 1
    // breadcrumb on stderr: if a runner timeout kills a later pass, the
    // earlier numbers survive in the captured log (stdout stays one line)
    System.err.println("[bench] pass1 " + jsonLine(results, 1))
    def nextPassFits: Boolean =
      if (iters == 1) lastTotal <= secondPassBudget
      else spent + lastTotal <= secondPassBudget * 2 / 3
    while (iters < 3 && nextPassFits) {
      val next = pass()
      lastTotal = next.map(_._2).filter(_ >= 0).sum
      spent += lastTotal
      val byName = next.toMap
      results = results.map { case (k, v1) =>
        val v2 = byName.getOrElse(k, -1.0)
        k -> (if (v1 < 0 || v2 < 0) math.max(v1, v2) else math.min(v1, v2))
      }
      prevPass = byName
      iters += 1
      System.err.println(s"[bench] pass$iters " + jsonLine(results, iters))
    }
    // Targeted noise trim: when the full third pass didn't fit, re-run
    // just the queries whose two passes disagreed by >3x (first-pass cold
    // cost — codec gates mostly — inflates min-of-2 into a phantom
    // regression vs matched runs). Their own projected cost gates the
    // extra pass, so a loaded box skips it rather than risking a runner
    // timeout.
    if (iters == 2) {
      val noisy = results.collect {
        case (k, vMin) if vMin >= 0 && prevPass.getOrElse(k, -1.0) >= 0 &&
          math.max(vMin, prevPass(k)) / math.max(math.min(vMin, prevPass(k)), 1e-3) > 3.0 => k
      }.toSet
      val projected = results.collect { case (k, v) if noisy(k) && v >= 0 => v }.sum
      if (noisy.nonEmpty && spent + projected <= secondPassBudget) {
        val next = pass(noisy).toMap
        results = results.map { case (k, v1) =>
          val v2 = next.getOrElse(k, v1)
          k -> (if (v1 < 0 || v2 < 0) math.max(v1, v2) else math.min(v1, v2))
        }
        System.err.println(s"[bench] noisy-trim pass over ${noisy.size} queries: " +
          noisy.toSeq.sorted.mkString(", "))
      }
    }

    if (isolated) {
      // prior artifact (optional): restrict the re-probe to the gates that
      // actually regressed >1.25x vs it — prefer its isolated column (the
      // comparable one) and fall back to in-suite for older artifacts
      def priorColumn(text: String, key: String): Map[String, Double] = {
        val start = text.indexOf("\"" + key + "\":{")
        if (start < 0) Map.empty
        else {
          val body = text.substring(start + key.length + 4,
            text.indexOf("}", start))
          "\"([^\"]+)\":(-?[0-9.]+)".r.findAllMatchIn(body)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      }
      val prior: Map[String, Double] = sys.env.get("SPARK_GRAFT_BENCH_PRIOR")
        .flatMap { p =>
          try {
            val text = scala.io.Source.fromFile(p).mkString
            // per-gate merge, isolated preferred: a prior produced by a
            // RESTRICTED (SPARK_GRAFT_BENCH_PRIOR) run carries a PARTIAL
            // isolated column, and a wholesale iso-else-queries choice
            // would silently drop every gate absent from it from
            // attribution coverage round over round — fall back to the
            // prior's in-suite value gate by gate instead
            Some(priorColumn(text, "queries") ++ priorColumn(text, "isolated"))
          } catch { case e: Throwable =>
            System.err.println(s"[bench] prior artifact unreadable ($p): ${e.getMessage}")
            None
          }
        }.getOrElse(Map.empty)
      val targets = results.collect {
        // gates the prior never saw (new this round) are re-probed too
        case (k, v) if v >= 0 &&
          (prior.isEmpty || prior.get(k).forall(pv => pv <= 0 || v > pv * 1.25)) => k
      }
      System.err.println(s"[bench] isolated re-probe: ${targets.size} gates" +
        (if (prior.nonEmpty) s" (>1.25x vs prior of ${prior.size})" else " (no prior: all)"))
      val fns = SparkEntry.queries
      isolatedResults = targets.map { name =>
        val times = (1 to 3).map { _ =>
          spark.catalog.clearCache()
          System.gc()
          Thread.sleep(50)
          val t0 = System.nanoTime()
          val ok = try {
            fns(name)(spark, sfDir).write.format("noop").mode("overwrite").save(); true
          } catch { case e: Throwable =>
            System.err.println(s"[bench] isolated $name failed: ${e.getMessage}"); false
          }
          if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        }
        val good = times.filter(_ >= 0)
        name -> (if (good.nonEmpty) good.min else -1.0)
      }
    }

    // the one-line stdout contract: print + flush BEFORE spark.stop() and
    // the runner's own banners, so a runner timeout or truncated capture
    // after this point can never lose the line (BENCH_r14.json's tail was
    // cut mid-JSON and the whole round-over-round comparison computed
    // nothing); every pass's provisional line is also on stderr above,
    // `iterations` records which pass count the minima came from —
    // min-of-2 vs min-of-3 artifacts are not directly comparable
    println(jsonLine(results, iters))
    System.out.flush()
    LocalSpark.stop(spark)
  }
}

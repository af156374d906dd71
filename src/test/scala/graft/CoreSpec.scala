package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Harness, Json, VerifyUtils}
import graft.sources.Tables

class CoreSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("params parse with typed accessors and clear failure for missing keys") {
    val p = Harness.parseParams("k=200\nmaxIter=10\ntol=1e-4\nuseDF=true\nname=kmeans")
    assert(p.int("k") == 200 && p.double("tol") == 1e-4 && p.bool("useDF"))
    assert(p.strOr("missing", "dflt") == "dflt" && p.intOr("missing", 7) == 7)
    val ex = intercept[IllegalArgumentException](p.str("nope"))
    assert(ex.getMessage.contains("nope"))
  }

  test("observed metrics: a checkpoint counts its own rows; a missing or " +
      "null metric fails naming the metric and the plan") {
    import org.apache.spark.sql.functions.{lit, sum}
    import graft.core.Observed
    val (cp, n) = Observed.checkpointCounted(spark.range(7).toDF("x"))
    assert(n == 7 && cp.count() == 7)
    val obs = spark.range(0).toDF("x").observe("s", sum("x").as("v"))
    obs.localCheckpoint()
    for (metric <- Seq("s", "not_observed")) {
      val ex = intercept[IllegalStateException](Observed.long(obs, metric, "v"))
      assert(ex.getMessage.contains(s"'$metric.v'") &&
        ex.getMessage.contains("Range"), ex.getMessage)
    }
  }

  test("timed job splits load and compute and emits a json-line report") {
    val (report, df) = Harness.timed("agg_smoke") {
      Tables(spark, sf0001, "region")
    } { loaded => Map("rows" -> loaded.count().toDouble) }
    assert(report.metrics("rows") == 5.0)
    assert(report.loadSec > 0 && report.computeSec > 0)
    val path = Files.createTempDirectory("rep").resolve("reports.jsonl")
    Harness.appendReport(path.toString, report)
    Harness.appendReport(path.toString, report)
    val lines = Files.readAllLines(path)
    assert(lines.size == 2)
    assert(lines.get(0).contains("\"job\":\"agg_smoke\""))
    df.unpersist()
  }

  test("report json survives NaN metrics and quoted job names") {
    val r = Harness.Report("na\"me\n", Double.NaN, 1.5,
      Map("ok" -> 2.0, "bad" -> Double.PositiveInfinity))
    val j = r.toJson
    assert(j.contains("\"na\\\"me\\n\""))
    assert(j.contains("\"load_sec\":null") && j.contains("\"bad\":null"))
    assert(j.contains("\"ok\":2.0"))
  }

  test("json quote escapes quotes, backslashes and every control character") {
    assert(Json.quote("a\"b\\c") == "\"a\\\"b\\\\c\"")
    assert(Json.quote("\n\r\t") == "\"\\n\\r\\t\"")
    for (c <- (0 until 0x20).map(_.toChar).filterNot("\n\r\t".contains(_)))
      assert(Json.quote(c.toString) == "\"\\u" + f"${c.toInt}%04x" + "\"", c.toInt)
    // nothing else changes, a control character's neighbours included
    assert(Json.quote("x\u0001 é/ y") == "\"x\\u0001 é/ y\"")
  }

  test("scalar tolerance: the reference's 0.5% relative semantics") {
    assert(VerifyUtils.scalarMatch(100.0, 100.4))
    assert(!VerifyUtils.scalarMatch(100.0, 100.6))
    assert(VerifyUtils.scalarMatch(0.0, 0.001))
  }

  test("vector/matrix tolerance with sign indeterminacy") {
    assert(VerifyUtils.vectorMatch(Seq(1.0, -2.0), Seq(-1.0, 2.0),
      signIndeterminate = true))
    assert(!VerifyUtils.vectorMatch(Seq(1.0, -2.0), Seq(-1.0, 2.0)))
    assert(VerifyUtils.matrixMatch(
      Seq(Seq(1.0, 0.5), Seq(0.5, 1.0)),
      Seq(Seq(1.0000005, 0.5), Seq(0.5, 0.9999995))))
  }

  test("set equality and top-k overlap over DataFrames") {
    val a = Seq(("x", 1L), ("y", 2L)).toDF("pattern", "freq")
    val b = Seq(("y", 2L), ("x", 1L)).toDF("pattern", "freq")
    val c = Seq(("x", 1L), ("z", 3L)).toDF("pattern", "freq")
    assert(VerifyUtils.setsEqual(a, b))
    assert(VerifyUtils.setDiff(a, c) == ((1L, 1L)))
    val top1 = Seq(1L, 2L, 3L).toDF("node")
    val top2 = Seq(2L, 3L, 4L).toDF("node")
    assert(math.abs(VerifyUtils.topKAccuracy(top1, top2) - 2.0 / 3) < 1e-9)
  }

  test("bench probe verdict is canary-aware: a loaded host never ships " +
      "regression") {
    // r11 directive #1: BENCH_r11 shipped 3 false "regression" verdicts
    // at provably unchanged code because the fixed 1.5x threshold
    // ignored the run's own canary. Synthetic slow-canary sample (the
    // judge-measured shape: ml_dbscan gate 2.13 s, warm min 3.807 s in
    // a window whose spin read 0.758-1.0 s vs the 0.647 s baseline):
    // the verdict must NOT be "regression".
    val gate = 2.13
    // mildly loaded host (canary 1.17x): threshold scales to
    // 1.5*2.13*1.17 = 3.74 < 3.807, and since the host is >1.15x loaded
    // the verdict is host-loaded, not regression
    assert(Bench.probeVerdict(3.807, gate, 0.758) == "host-loaded")
    // heavily loaded host (canary 2x): scaled threshold 6.39 absorbs
    // the same warm minimum as contention
    assert(Bench.probeVerdict(3.807, gate, 1.294) == "contention")
    // quiet host (canary at baseline), warm min back within 1.5x gate:
    // contention, same as the pre-r12 protocol
    assert(Bench.probeVerdict(2.9, gate, 0.647) == "contention")
    // quiet host, warm min genuinely above threshold: only THIS case
    // may ship regression
    assert(Bench.probeVerdict(5.0, gate, 0.647) == "regression")
    // a FAST host (canary below baseline) never loosens the gate: the
    // factor floors at 1
    assert(Bench.probeVerdict(3.3, gate, 0.4) == "regression")
  }

  test("streaming throughput verdict is canary-aware: a loaded host " +
      "never ships slow") {
    val gate = 2940.0 // near_dups_rps (r13 re-baseline, min of 3 windows)
    // quiet host, throughput within the 1.4x band (gate/1.4 = 2100): ok
    assert(Bench.streamVerdict(2200.0, gate, 0.647) == "ok")
    // quiet host, genuinely below the band: slow — a 1.5x regression
    // reads ~0.67x of gate and lands here (the r12 2x band could not
    // catch it; the re-baselined statistic's <=6% spread can)
    assert(Bench.streamVerdict(2000.0, gate, 0.647) == "slow")
    // loaded host (2x canary): the same 2000 rows/s host-adjusts to
    // 4000 >= gate/1.4 -> ok
    assert(Bench.streamVerdict(2000.0, gate, 1.294) == "ok")
    // loaded host where even the adjusted rate trips: host-loaded,
    // never slow
    assert(Bench.streamVerdict(900.0, gate, 0.9) == "host-loaded")
    // fast host never inflates the measured rate
    assert(Bench.streamVerdict(2000.0, gate, 0.3) == "slow")
  }

  test("streaming steady-state statistic is drop-worst mean of the " +
      "post-cold triggers") {
    // r12 verdict #2: best-of-2-post-cold swung +-25% on quiet
    // windows; the statistic is now the mean of the post-cold vector
    // with its single worst (lowest-rps) trigger dropped.
    assert(Bench.steadyStat(Seq(100.0, 400.0, 300.0, 200.0)) == 300.0)
    // one stray slow trigger no longer halves the reading
    assert(Bench.steadyStat(Seq(10.0, 300.0, 300.0, 300.0)) == 300.0)
    // degenerate short vectors stay defined
    assert(Bench.steadyStat(Seq.empty) == 0.0)
    assert(Bench.steadyStat(Seq(250.0)) == 250.0)
    assert(Bench.steadyStat(Seq(100.0, 200.0)) == 200.0)
  }

  test("probe auto-requeue: a loaded first attempt retries once and " +
      "the quieter attempt ships") {
    // r13 directive #4: three of three final-code passes shipped
    // "contention" verdicts where one backoff would likely have
    // produced a clean number. Synthetic loaded-then-quiet host: the
    // first attempt's canary reads 1.3 s (2x the 0.647 s reference),
    // the retry 0.65 s (quiet) — the retry must ship, with the loaded
    // canary preserved as requeue metadata.
    val gate = 2.13
    var calls = 0
    var backedOff = false
    val attempts = Iterator(
      Bench.ProbeAttempt(1.3, Seq(4.4, 4.5, 4.6)),   // loaded window
      Bench.ProbeAttempt(0.65, Seq(2.5, 2.6, 2.7)))  // quiet retry
    val (ship, verdict, requeued, other) = Bench.probeWithRequeue(gate,
      () => { calls += 1; attempts.next() }, () => backedOff = true)
    assert(calls == 2 && backedOff && requeued)
    assert(ship.canary == 0.65 && other.contains(1.3))
    // the quiet retry's warm min 2.5 <= 1.5 * 2.13 -> contention (the
    // pre-requeue path would have adjudicated the loaded attempt)
    assert(verdict == "contention")

    // a quiet first attempt never requeues — the probe stays one-shot
    var calls2 = 0
    val (ship2, verdict2, requeued2, other2) = Bench.probeWithRequeue(
      gate, () => { calls2 += 1; Bench.ProbeAttempt(0.65, Seq(5.0, 5.1, 5.2)) },
      () => fail("must not back off on a quiet first attempt"))
    assert(calls2 == 1 && !requeued2 && other2.isEmpty)
    assert(ship2.canary == 0.65 && verdict2 == "regression")

    // both attempts loaded: the LESS loaded one ships, and the verdict
    // comes from probeVerdict's loaded-host branch (never regression)
    val attempts3 = Iterator(
      Bench.ProbeAttempt(1.3, Seq(4.4, 4.5, 4.6)),
      Bench.ProbeAttempt(1.5, Seq(4.8, 4.9, 5.0)))
    val (ship3, verdict3, requeued3, other3) = Bench.probeWithRequeue(
      gate, () => attempts3.next(), () => ())
    assert(requeued3 && ship3.canary == 1.3 && other3.contains(1.5))
    assert(verdict3 != "regression")
  }

  test("gate freshness fires on BOTH drift directions, only on a " +
      "quiet canary") {
    // r12 directive #6 (fast side) + r13 directive #2 (slow side): the
    // r13 iterative-graph family read 1.2-1.5x of its r11-window gates
    // on every quiet window for two rounds before a judge noticed by
    // hand — the slow-side mirror self-surfaces that.
    val f = Bench.gateFreshnessVerdict _
    // quiet host, no drift
    assert(f(true, 1.0, 0, 0) == "ok")
    assert(f(true, 1.0, 4, 4) == "ok") // below the 5-row trip wire
    // fast side: engine outran the gates (the r11 trigger)
    assert(f(true, 1.0, 5, 0) ==
      "re-baseline due (fast-side): 5 gated rows <0.6x on a quiet canary")
    // slow side: gates measured on a faster window than any current
    // quiet window (the r13 finding)
    assert(f(true, 1.0, 0, 6) ==
      "re-baseline due (slow-side): 6 gated rows >1.3x on a quiet canary")
    // both directions can fire at once (disjoint row sets)
    assert(f(true, 1.0, 5, 5).contains("fast-side") &&
      f(true, 1.0, 5, 5).contains("slow-side"))
    // a loaded window judges nothing in either direction
    assert(f(true, 1.3, 9, 9) == "ok (loaded window; freshness unjudged)")
    // gates are sf0.1 numbers; other scales are n/a
    assert(f(false, 1.0, 9, 9) == "n/a (gates are sf0.1 numbers)")
  }

  test("every reported headline row carries a baseline gate entry") {
    // r11 directive #2: rows reported in the BENCH JSON but absent
    // from the gate map could regress silently between re-baselines.
    // The invariant is exact equality: a gate entry for a non-headline
    // row would likewise never be evaluated.
    assert(Bench.headline == Bench.baselineGate.keySet,
      s"headline-only: ${Bench.headline -- Bench.baselineGate.keySet}; " +
        s"gate-only: ${Bench.baselineGate.keySet -- Bench.headline}")
    // every headline row must also BE a query the bench can run
    assert((Bench.headline -- SparkEntry.queries.keySet).isEmpty)
  }
}

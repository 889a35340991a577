package graft.tools

import scala.io.Source
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Diff a Bench artifact against BASELINE.md's recorded per-query table
  * and print per-query ratios — the divergence triage the judge rebuilt by
  * hand in rounds 2 and 3.
  *
  * Round-7 hardening: the GATE is the MIN rep, not the median. Machine
  * contention only ever inflates a rep time, so a query whose fastest rep
  * is at baseline is at baseline — three consecutive driver-side bench
  * runs were contention-poisoned and false-flagged 4 → 13 → 30 queries by
  * median-of-3 (one contended rep out of three shifts the median), each
  * costing a judge adjudication. Median ratios are still printed alongside
  * as the reported number; only min-rep ratios count as flags.
  *
  * Round-10 hardening: the tool also ADJUDICATES RUN HEALTH from the
  * artifact's pass-order reps (and per-pass totals when present). Two
  * straight driver rounds were environmentally degraded with 100% of
  * queries monotone-increasing across identical interleaved passes — a
  * signature random contention cannot produce (P(strictly increasing) =
  * 1/6 per query under exchangeable noise, so ~17% expected, not 100%).
  * When well over half the queries are monotone-increasing the run is
  * labeled DEGRADED, the evidence is printed, and median-based ratios
  * are explicitly marked untrustworthy — min-rep remains the only gate
  * either way.
  *
  * Caveat on error runs: Bench's passes[].total sums every timing taken
  * in that pass, including timings of queries that error in a LATER
  * pass, while the per-query aggregates exclude errored queries
  * entirely — so on a run with errors the pass totals can exceed the
  * summed per-query reps. Pass totals are a health signal, not an
  * accounting identity; reconcile against per_query only on zero-error
  * runs.
  *
  * The artifact is read as JSON (Jackson's tree model), so key order and
  * whitespace do not matter.
  *
  * Usage: runMain graft.tools.BenchDelta [benchJson] [baselineMd]
  * (defaults: bench_out.json, BASELINE.md). Exit code 0 always — this is
  * a diagnostic, not a gate; the 2x regression gate is the driver's.
  */
object BenchDelta {
  /** One query's record: pass-order reps and per-rep telemetry. */
  final case class QueryStats(reps: Seq[Double], cpuCores: Seq[Double], load: Seq[Double])
  /** One pass's totals and process telemetry (-1 when absent). */
  final case class PassStats(pass: Int, total: Option[Double], cpuCores: Double, stealPct: Double)
  /** The fields of a `bench_out.json` this tool reads. */
  final case class Bench(medians: Map[String, Double], mins: Map[String, Double],
      perQuery: Map[String, QueryStats], passes: Seq[PassStats], hostCores: Option[Int])
  /** One BASELINE.md-shared query: median, min rep, recorded, and the
    * min-rep and median ratios to the recorded time. */
  final case class Ratio(query: String, median: Double, min: Double, recorded: Double,
      minRatio: Double, medRatio: Double)

  def parse(json: String): Bench = {
    val root = new ObjectMapper().readTree(json)
    def fields(n: JsonNode): Seq[(String, JsonNode)] =
      if (n == null || !n.isObject) Seq.empty
      else n.properties().asScala.map(e => e.getKey -> e.getValue).toSeq
    def numbers(n: JsonNode): Seq[Double] =
      if (n == null || !n.isArray) Seq.empty else n.elements().asScala.map(_.asDouble).toSeq
    def numMap(key: String): Map[String, Double] =
      fields(root.get(key)).collect { case (k, v) if v.isNumber => k -> v.asDouble }.toMap
    def opt(n: JsonNode, key: String): Option[Double] =
      Option(n.get(key)).filter(_.isNumber).map(_.asDouble)
    Bench(
      medians = numMap("queries"),
      mins = numMap("min"),
      perQuery = fields(root.get("per_query")).map { case (q, v) =>
        q -> QueryStats(numbers(v.get("reps")), numbers(v.get("cpu_cores")), numbers(v.get("load")))
      }.toMap,
      passes = Option(root.get("passes")).toSeq.flatMap(_.elements().asScala).map { p =>
        PassStats(p.path("pass").asInt, opt(p, "total"),
          opt(p, "cpu_cores").getOrElse(-1.0), opt(p, "steal_pct").getOrElse(-1.0))
      },
      hostCores = Option(root.get("host_cores")).filter(_.isInt).map(_.asInt))
  }

  /** BASELINE.md rows: | query | median sec | spread |. */
  def parseBaseline(md: String): Map[String, Double] =
    md.linesIterator.flatMap { l =>
      """\|\s*([a-z][A-Za-z0-9_]+)\s*\|\s*([0-9.]+)\s*\|\s*[0-9.]+\s*\|""".r
        .findFirstMatchIn(l).map(m => m.group(1) -> m.group(2).toDouble)
    }.toMap

  /** Queries in both the bench run and the baseline, worst min-rep ratio
    * first. Pre-round-7 artifacts have no "min" map: medians stand in. */
  def ratios(b: Bench, base: Map[String, Double]): Seq[Ratio] = {
    val minM = if (b.mins.nonEmpty) b.mins else b.medians
    b.medians.toSeq.collect {
      case (q, m) if m >= 0 && base.get(q).exists(_ > 0) =>
        val r = base(q)
        val mRep = minM.getOrElse(q, m)
        Ratio(q, m, mRep, r, mRep / r, m / r)
    }.sortBy(x => (-x.minRatio, x.query))
  }

  def main(args: Array[String]): Unit = {
    val benchPath = if (args.length > 0) args(0) else "bench_out.json"
    val basePath = if (args.length > 1) args(1) else "BASELINE.md"
    def slurp(p: String): String = {
      val src = Source.fromFile(p, "UTF-8")
      try src.mkString finally src.close()
    }
    report(parse(slurp(benchPath)), parseBaseline(slurp(basePath)), benchPath).foreach(println)
  }

  /** The printed diagnosis, one line per element. */
  def report(b: Bench, base: Map[String, Double], benchPath: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    // run-health: fraction of queries whose pass-order reps strictly
    // increase (requires a round-10+ artifact where reps are pass-order)
    val multi = b.perQuery.filter(_._2.reps.size >= 3)
    val monotone = multi.count { case (_, qs) =>
      qs.reps.sliding(2).forall { case Seq(a, c) => c > a; case _ => true } }
    val passTotals = b.passes.flatMap(_.total)
    val degraded = multi.nonEmpty && monotone.toDouble / multi.size > 0.5
    if (multi.nonEmpty) {
      val pct = 100.0 * monotone / multi.size
      val label = if (degraded) "DEGRADED" else "healthy"
      out += f"run health: $label — $monotone/${multi.size} queries ($pct%.0f%%) monotone-increasing across passes" +
        (if (passTotals.nonEmpty) s"; pass totals ${passTotals.map(t => f"$t%.1f").mkString(" -> ")} s" else "")
      if (degraded)
        out += "  (environmental degradation signature: median ratios below are " +
          "UNTRUSTWORTHY; only min-rep ratios are meaningful on this run)"
    } else out += "run health: unknown (no pass-order reps in artifact — pre-round-10 format)"
    // contention adjudication from DATA (round-13 artifacts carry
    // telemetry): per-rep loadavg at rep end per query, plus per-pass
    // process-CPU cores. loadavg is a ~1-min EWMA that INCLUDES this
    // process's own burn, so the external estimate compares the
    // pass-average loadavg against the pass-level sustained core burn
    // (cpu_sec/wall) — comparing against a short rep's instantaneous
    // cores would count the bench's own just-finished heavy queries as
    // "external" and false-label idle-machine passes CONTENDED.
    val telMulti = b.perQuery.collect { case (q, qs)
      if qs.cpuCores.nonEmpty && qs.cpuCores.size == qs.load.size &&
        qs.cpuCores.forall(_ >= 0) && qs.load.forall(_ >= 0) => q -> (qs.cpuCores, qs.load) }
    // per-pass sustained core burn + hypervisor steal from the passes
    // array. Two distinct contention signatures: external RUNNABLE
    // threads (loadavg >> own cores) and hypervisor STEAL (low loadavg,
    // low own cores, uniform slowdown — steal% is the only direct
    // witness; observed in round 13 as a 40%-slower run with clean
    // loadavg).
    val passCores = b.passes.map(p => p.pass -> p.cpuCores).toMap
    val passSteal = b.passes.map(p => p.pass -> p.stealPct).toMap
    // external-cores threshold scales to the RECORDING machine's core
    // count (host_cores, in round-14+ artifacts): ~4 external cores is
    // catastrophic on a 4-core box and noise on 64 — 12.5% of cores
    // (4 on the 32-core rig, preserving the historical gate there),
    // floored at 2 so tiny rigs still flag. Older artifacts without
    // host_cores fall back to the absolute 4.0. (ADVICE r14)
    val extGate = b.hostCores.map(c => math.max(2.0, 0.125 * c)).getOrElse(4.0)
    if (telMulti.nonEmpty) {
      val nPasses = telMulti.values.map(_._1.size).max
      for (p <- 0 until nPasses) {
        val loads = telMulti.values.toSeq.collect { case (c, l) if l.size > p => l(p) }
        val own = passCores.getOrElse(p + 1, -1.0)
        val steal = passSteal.getOrElse(p + 1, -1.0)
        val avgLoad = loads.sum / math.max(1, loads.size)
        val ext = if (own < 0) -1.0 else math.max(0.0, avgLoad - own)
        val lbl = if (ext > extGate || steal > 10.0) "CONTENDED"
          else if (ext < 0) "unknown" else "clean"
        val stealTxt = if (steal < 0) "" else f", steal $steal%.1f%%"
        // the 1-min loadavg EWMA lags ~1 min: pass 1 inherits whatever was
        // runnable BEFORE the run started, so its label can be stale high
        val ewmaTxt = if (p == 0) " [pass-1 caveat: 1-min EWMA may carry pre-run load]" else ""
        out += f"pass ${p + 1}: $lbl — avg loadavg $avgLoad%.1f vs own sustained $own%.1f cores => ~$ext%.1f external cores (gate $extGate%.1f)$stealTxt$ewmaTxt"
      }
      out += "  (a >2x min-rep flag on a pass labeled CONTENDED above is " +
        "environmental unless it reproduces on a clean pass)"
    } else out += "contention telemetry: absent (pre-round-13 artifact)"

    if (b.medians.isEmpty) sys.error(s"no \"queries\" object in $benchPath")
    val ratioed = ratios(b, base)
    out += f"${"query"}%-28s ${"median"}%8s ${"min"}%8s ${"recorded"}%9s ${"minratio"}%9s ${"medratio"}%9s"
    ratioed.foreach { case Ratio(q, m, mRep, r, minRatio, medRatio) =>
      val flag = if (minRatio > 2.0) "  <-- >2x (min-rep)" else ""
      out += f"$q%-28s $m%8.3f $mRep%8.3f $r%9.3f $minRatio%8.2fx $medRatio%8.2fx$flag"
    }
    val over = ratioed.count(_.minRatio > 2.0)
    val overMed = ratioed.count(_.medRatio > 2.0)
    val benchTotal = ratioed.map(_.median).sum
    val minTotal = ratioed.map(_.min).sum
    val baseTotal = ratioed.map(_.recorded).sum
    out += f"%nshared queries: ${ratioed.size}; bench median total $benchTotal%.1f s / min total $minTotal%.1f s vs recorded $baseTotal%.1f s (med ${benchTotal / baseTotal}%.2fx, min ${minTotal / baseTotal}%.2fx)"
    out += s"flags: $over queries >2x by MIN rep (the gate); $overMed by median (contention-sensitive, reported only)"
    val rows = (b.medians.keySet ++ base.keySet).toSeq.map(q => (q, b.medians.get(q), base.get(q)))
    rows.collect { case (q, Some(_), None) => q } match {
      case Seq() => ()
      case added => out += s"not in baseline: ${added.sorted.mkString(", ")}"
    }
    rows.collect { case (q, None, Some(_)) => q } match {
      case Seq() => ()
      case gone => out += s"not in bench run: ${gone.sorted.mkString(", ")}"
    }
    rows.collect { case (q, Some(m), _) if m < 0 => q } match {
      case Seq() => ()
      case err => out += s"errored in bench run: ${err.sorted.mkString(", ")}"
    }
    out.result()
  }
}

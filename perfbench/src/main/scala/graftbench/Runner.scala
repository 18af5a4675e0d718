package graftbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.SparkSession

/** One timed operation of a workload: `exec` is the timed call into the
  * engine; `verify` checks its result afterwards, untimed, and throws on a
  * wrong answer.
  */
final case class Op(key: String, family: String, exec: () => Any, verify: Any => Unit = _ => ())

/** A metric as printed: value, unit and sample count. */
final case class Metric(value: Double, unit: String, n: Int)

/** A workload supplies its set-up and the ops of each pass; the runner owns
  * the closed loop (one client, one op at a time), timing, failure
  * accounting and the traced rollups.
  */
trait Workload {
  def name: String
  /** Timed set-up steps before the first pass, as (part name, seconds). */
  def setup(ctx: Ctx): Seq[(String, Double)]
  /** Ops of pass `n`. `traced` passes may add layer probes. */
  def pass(n: Int, traced: Boolean): Seq[Op]
  /** Checks that need work too large for set-up (a ground-truth
    * recomputation), run after the timed loop over outputs the ops' own
    * `verify` kept; one (op key, cause) per wrong output.
    */
  def deferredChecks(): Seq[(String, String)] = Seq.empty
  /** Workload-specific end-to-end metrics from the timed samples. */
  def endToEnd(s: Samples): Seq[(String, Metric)] = Seq.empty
  /** Workload-specific per-layer metrics of a traced run. */
  def layers(ctx: Ctx, s: Samples): Seq[(String, Metric)] = Seq.empty
  /** Untimed passes before the loop, the first of them the first touch. */
  def warmupPasses: Int = 1
  /** Timed passes a run makes at least, even past `--seconds`. */
  def minPasses: Int = 1
  /** Extra detail for the report (environment, choices, layer notes). */
  def detail: Map[String, Any] = Map.empty
}

final class Ctx(val o: Opts, val spark: SparkSession, val trace: Trace) {
  val rng = new java.util.Random(o.seed)
}

/** Timed samples of a run. */
final class Samples {
  final case class S(pass: Int, key: String, secs: Double, spanId: Int, traced: Boolean)
  val all = ArrayBuffer.empty[S]
  val passSpans = ArrayBuffer.empty[(Int, Int, Boolean, Double)] // pass, span, traced, secs
  def of(key: String, traced: Boolean = false): Seq[Double] =
    all.filter(s => s.key == key && s.traced == traced).map(_.secs).toSeq
  def keys: Seq[String] = all.map(_.key).distinct.toSeq
}

object Runner {
  final case class Failure(key: String, phase: String, cause: String)

  def run(o: Opts, jvmStartMs: Long, mk: Ctx => Workload): Int = {
    val tStart = Common.now()
    val jvmS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val (spark, sessionS) = Common.timed(Common.session(o))
    val trace = new Trace(spark)
    val ctx = new Ctx(o, spark, trace)
    val w = mk(ctx)
    val failures = ArrayBuffer.empty[Failure]
    var attempted = 0
    val firstTouch = LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val firstTouchOps = LinkedHashMap.empty[String, Double]
    val samples = new Samples

    /** Runs one op: (seconds of the timed call, its span, whether it passed). */
    def runOp(op: Op, pass: Int, phase: String): Option[(Double, Int, Boolean)] = {
      attempted += 1
      spark.sharedState.cacheManager.clearCache()
      var spanId = -1
      try {
        val t0 = Common.now()
        val out = trace.span("op", op.key) {
          spanId = trace.spans.length - 1
          trace.span("action", op.key)(op.exec())
        }
        val secs = Common.secs(t0, Common.now())
        val ok = try { trace.span("verify", op.key)(op.verify(out)); true } catch {
          case t: Throwable =>
            failures += Failure(op.key, phase, Common.cause(t))
            false
        }
        Some((secs, spanId, ok))
      } catch {
        case t: Throwable =>
          failures += Failure(op.key, phase, Common.cause(t))
          None
      }
    }

    // ---- set-up: data generation etc., then one untimed first-touch pass ----
    val setupParts = LinkedHashMap[String, Double]("jvm_start" -> jvmS, "session" -> sessionS)
    try setupParts ++= w.setup(ctx)
    catch {
      case t: Throwable =>
        failures += Failure("setup", "setup", Common.cause(t))
    }
    val setupOk = failures.isEmpty
    if (setupOk) {
      val (_, ftS) = Common.timed(w.pass(0, traced = o.trace).foreach { op =>
        runOp(op, 0, "first_touch").foreach { case (s, _, _) =>
          firstTouch(op.family) += s
          firstTouchOps(op.key) = s
        }
      })
      setupParts("first_touch") = ftS
      if (w.warmupPasses > 1) setupParts("warmup") = Common.timed {
        (1 until w.warmupPasses).foreach(_ =>
          w.pass(0, traced = o.trace).foreach(runOp(_, 0, "warmup")))
      }._2
    }
    // set-up is the observed interval from JVM start to the first timed op
    val setupS = Common.secs(tStart, Common.now()) + jvmS

    // ---- measured closed loop ----
    val deadline = Common.now() + (o.seconds * 1e9).toLong
    var pass = 1
    val gc0 = Common.gcSeconds()
    // a traced run needs one traced and one untraced pass at least
    val minPasses = if (o.trace) math.max(2, w.minPasses) else w.minPasses
    while (setupOk && (Common.now() < deadline || pass <= minPasses)) {
      // traced runs alternate traced and untraced passes, so the tracing
      // overhead is measured on the same ops in the same JVM
      val traced = o.trace && pass % 2 == 1
      if (traced) trace.attach()
      val ops = w.pass(pass, traced)
      val t0 = Common.now()
      // passes always run to completion, so every run times the same mix
      // of ops; the run therefore lasts --seconds rounded up to a pass
      val passSpan = trace.span("pass", s"pass$pass") {
        val id = trace.spans.length - 1
        ops.foreach { op =>
          runOp(op, pass, "timed").foreach { case (s, sid, ok) =>
            if (ok) samples.all += samples.S(pass, op.key, s, sid, traced)
          }
        }
        id
      }
      samples.passSpans += ((pass, passSpan, traced, Common.secs(t0, Common.now())))
      if (traced) trace.detach()
      pass += 1
    }
    val gcS = Common.gcSeconds() - gc0
    val rss = Common.peakRssMb()
    if (setupOk) {
      val (late, lateS) = Common.timed(
        try w.deferredChecks()
        catch { case t: Throwable => Seq("deferred_checks" -> Common.cause(t)) })
      late.foreach { case (k, c) => failures += Failure(k, "check", c) }
      println(f"deferred checks: $lateS%.3f s (not in any metric)")
    }

    // ---- report ----
    val lat = samples.all.filterNot(_.traced).map(_.secs).toSeq
    // keys (with multiplicity) of the fullest untraced pass
    val firstPassKeys = samples.passSpans.filterNot(_._3).map(_._1)
      .map(p => samples.all.filter(_.pass == p).map(_.key).toSeq)
      .maxByOption(_.size).getOrElse(samples.keys)
    val suite = firstPassKeys.map(k => Common.median(samples.of(k))).sum
    val e2e = LinkedHashMap[String, Metric](
      "setup_s" -> Metric(setupS, "s", 1),
      "peak_rss_mb" -> Metric(rss, "MB", 1),
      "op_p50_s" -> Metric(Common.quantile(lat, 0.5), "s", lat.size),
      "op_p90_s" -> Metric(Common.quantile(lat, 0.9), "s", lat.size),
      "suite_s" -> Metric(suite, "s", firstPassKeys.size))
    val extraE2e = if (lat.nonEmpty) w.endToEnd(samples) else Seq.empty
    val layer =
      if (o.trace && samples.passSpans.exists(_._3)) layerMetrics(ctx, samples, gcS, firstTouch)
      else Seq.empty
    val workloadLayer = if (layer.nonEmpty) w.layers(ctx, samples) else Seq.empty

    val failedN = failures.size
    val correct = failures.isEmpty && lat.nonEmpty
    println(s"workload ${w.name}: seed=${o.seed} local[${Common.Cpus}] seconds=${o.seconds} " +
      s"trace=${if (o.trace) 1 else 0} passes=${pass - 1} attempted=$attempted failed=$failedN")
    println(f"setup_s = $setupS%.3f s, split: " +
      setupParts.map { case (k, v) => f"$k=$v%.3f" }.mkString(" ") +
      f" other=${setupS - setupParts.values.sum}%.3f")
    firstTouch.foreach { case (f, s) => println(f"fixtures.first_touch_s.$f = $s%.4f s") }
    (e2e.toSeq ++ extraE2e ++ layer ++ workloadLayer).foreach { case (k, m) =>
      println(f"metric $k = ${m.value}%.6f ${m.unit} (n=${m.n})")
    }
    println(s"failed_frac = ${if (attempted > 0) failedN.toDouble / attempted else 0.0} " +
      s"($failedN of $attempted ops)")
    failures.foreach(f => println(s"FAILED ${f.key} [${f.phase}]: ${f.cause}"))
    println(Json(Map("detail" -> (w.detail ++ Map(
      "workload" -> w.name, "seed" -> o.seed, "master" -> s"local[${Common.Cpus}]",
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "setup_split_s" -> setupParts, "first_touch_s" -> firstTouch,
      "first_touch_by_op_s" -> firstTouchOps,
      "pass_s" -> samples.passSpans.map(p => if (p._3) s"traced ${p._4}" else p._4),
      "failures" -> failures.map(f => s"${f.key} [${f.phase}]: ${f.cause}"))))))
    val reported = if (o.trace) layer else e2e.toSeq
    val metrics = reported.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) }
    spark.streams.active.foreach(_.stop())
    spark.stop()
    println(Json(LinkedHashMap("correct" -> correct, "attempted" -> attempted,
      "failed" -> failedN, "metrics" -> LinkedHashMap(metrics: _*))))
    0
  }

  /** Generic per-layer metrics: per complete traced pass, summed over its
    * ops; the reported value is the median over traced passes.
    */
  private def layerMetrics(ctx: Ctx, s: Samples, gcS: Double,
      firstTouch: scala.collection.Map[String, Double]): Seq[(String, Metric)] = {
    val tr = ctx.trace
    val traced = s.passSpans.filter(_._3)
    val untraced = s.passSpans.filterNot(_._3)
    val perPass = traced.map { case (p, spanId, _, _) =>
      val opSpans = s.all.filter(x => x.pass == p).map(_.spanId).toSet
      val r = tr.rollup(opSpans)
      val buildS = tr.spans.filter(sp => sp.layer == "build" && inPass(tr, sp.id, spanId))
        .map(sp => (sp.t1 - sp.t0) / 1e9).sum
      val gap = s.all.filter(_.pass == p).map { x =>
        val sp = tr.spans(x.spanId)
        val rr = tr.rollup(Set(x.spanId))
        ((sp.t1 - sp.t0) - Trace.unionNs(rr.busy, sp.t0, sp.t1)) / 1e9
      }.sum
      val self = tr.selfTimes(Set(spanId))
      (r, buildS, gap, self)
    }
    def med(f: ((Trace.Rollup, Double, Double, Map[String, Double])) => Double): Double =
      Common.median(perPass.map(f).toSeq)
    val n = perPass.size
    // overhead: the same keys, traced vs untraced, summed per-key medians
    val common = s.all.filter(_.traced).map(_.key).distinct
      .filter(k => s.of(k).nonEmpty)
    val overhead = common.map(k => Common.median(s.of(k, traced = true)) -
      Common.median(s.of(k))).sum
    Seq(
      "catalyst.analysis_s" -> Metric(med(_._1.analysisS), "s", n),
      "catalyst.optimization_s" -> Metric(med(_._1.optimizationS), "s", n),
      "catalyst.planning_s" -> Metric(med(_._1.planningS), "s", n),
      "driver.build_s" -> Metric(med(_._2), "s", n),
      "driver.gap_s" -> Metric(med(_._3), "s", n),
      "exec.jobs" -> Metric(med(_._1.jobs.toDouble), "count", n),
      "exec.stages" -> Metric(med(_._1.stages.toDouble), "count", n),
      "exec.tasks" -> Metric(med(_._1.tasks.toDouble), "count", n),
      "exec.task_run_s" -> Metric(med(_._1.taskRunS), "s", n),
      "exec.task_cpu_s" -> Metric(med(_._1.taskCpuS), "s", n),
      "exec.shuffle_read_bytes" -> Metric(med(_._1.shuffleRead.toDouble), "bytes", n),
      "exec.shuffle_write_bytes" -> Metric(med(_._1.shuffleWrite.toDouble), "bytes", n),
      "exec.spill_bytes" -> Metric(med(_._1.spill.toDouble), "bytes", n),
      "jvm.gc_s" -> Metric(gcS, "s", 1),
      "fixtures.first_touch_s" -> Metric(firstTouch.values.sum, "s", firstTouch.size),
      "self.action_s" -> Metric(med(_._4.getOrElse("action", 0.0)), "s", n),
      "self.build_s" -> Metric(med(_._4.getOrElse("build", 0.0)), "s", n),
      "self.catalyst_s" -> Metric(med(_._4.getOrElse("catalyst", 0.0)), "s", n),
      "self.exec_s" -> Metric(med(_._4.getOrElse("exec", 0.0)), "s", n),
      "self.verify_s" -> Metric(med(_._4.getOrElse("verify", 0.0)), "s", n),
      "trace.overhead_s" -> Metric(overhead, "s", common.size),
      "trace.pass_traced_s" -> Metric(Common.median(traced.map(_._4).toSeq), "s", n),
      "trace.pass_untraced_s" -> Metric(Common.median(untraced.map(_._4).toSeq), "s",
        untraced.size))
  }

  private def inPass(tr: Trace, id: Int, passSpan: Int): Boolean = {
    var p = tr.spans(id).parent
    while (p >= 0 && p != passSpan) p = tr.spans(p).parent
    p == passSpan
  }
}

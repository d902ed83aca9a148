package perfbench

import java.io.File
import java.util.Locale

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** A named number with its unit, as printed. */
final case class Metric(name: String, value: Double, unit: String)

/** One operation of the closed loop: its kind, the wall interval and
  * duration of the timed call into graft, the items it handled and
  * whether its output passed the check.
  */
final case class OpRecord(kind: String, startMs: Long, endMs: Long,
                          nanos: Long, items: Long, ok: Boolean,
                          traced: Boolean, id: Int) {
  def ms: Double = nanos / 1e6
}

/** What a workload hands the harness per operation. */
final case class OpResult(kind: String, items: Long, ok: Boolean)

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val params: Map[String, String], val cores: Int,
                val inject: Set[String]) {
  def int(k: String): Int = param(k).toInt
  def double(k: String): Double = param(k).toDouble
  private def param(k: String): String =
    params.getOrElse(k, throw new IllegalArgumentException(s"missing --param $k"))

  /** Interval (ms wall clock) and duration (ns) of the last timed call. */
  var lastStartMs = 0L
  var lastEndMs = 0L
  var lastNanos = 0L
  var currentOp = -1

  /** Times one call into graft. Jobs it launches carry the operation id,
    * so the listener can attribute them; jobs of the output check don't.
    */
  def timed[T](body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(ExecListener.OpProperty, currentOp.toString)
    lastStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      lastNanos = System.nanoTime() - t0
      lastEndMs = System.currentTimeMillis()
      sc.setLocalProperty(ExecListener.OpProperty, null)
    }
  }
}

object Workloads {
  def apply(name: String, ctx: Ctx, seed: Long): TsdbLookup = name match {
    case "tsdb_lookup" => new TsdbLookup(ctx, seed, latencyKind = "get",
                            itemKind = "multiget")
    case "tsdb_scan"   => new TsdbLookup(ctx, seed, latencyKind = "scan",
                            itemKind = "scan")
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

object Main {
  def fmt(v: Double): String = String.format(Locale.ROOT, "%.4f", Double.box(v))

  def main(args: Array[String]): Unit = {
    Locale.setDefault(Locale.ROOT)
    val opts = Args(args)
    val runDir = new File(opts.runDir)
    try run(opts, runDir) finally Files.deleteTree(runDir)
    // Spark can leave non-daemon threads behind
    System.exit(0)
  }

  private def run(o: Args, runDir: File): Unit = {
    runDir.mkdirs()
    val t0 = System.nanoTime()
    val spark = Session.start(o.cores, runDir)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(enabled = false)
    val ctx = new Ctx(spark, tracer, o.params, o.cores, o.inject)
    try {
      val w = Workloads(o.workload, ctx, o.seed)
      // set up several times; the last fixture serves the run. A traced run
      // also traces the set-ups, where the fixture is bulk-loaded.
      tracer.enabled = o.trace
      val setups = (1 to o.setupReps).map { r =>
        val dir = new File(runDir, s"setup-$r")
        if (r > 1) Files.deleteTree(new File(runDir, s"setup-${r - 1}"))
        val s0 = System.nanoTime()
        val f = w.setup(dir)
        ((System.nanoTime() - s0) / 1e9, f)
      }
      tracer.enabled = false
      val records = ArrayBuffer.empty[OpRecord]
      var opId = 0
      def runOp(traced: Boolean): OpRecord = {
        ctx.currentOp = opId
        ctx.lastNanos = 0L
        val opStart = System.nanoTime()
        val r = try tracer.op(opId)(w.op(opId)) catch {
          case e: Throwable if scala.util.control.NonFatal(e) =>
            System.err.println(s"[perfbench] op $opId failed: $e")
            OpResult("error", 0L, ok = false)
        }
        val rec = OpRecord(r.kind, ctx.lastStartMs, ctx.lastEndMs,
          ctx.lastNanos, r.items, r.ok, traced, opId)
        System.err.println(f"[perfbench] op $opId%d ${r.kind}%s ${rec.ms}%.1f ms, " +
          f"${(System.nanoTime() - opStart) / 1e6}%.1f ms with check")
        opId += 1
        rec
      }
      // warm-up: a fixed number of untimed operations, counted in setup_s;
      // a failed warm-up operation still counts as failed
      val w0 = System.nanoTime()
      val warm = (1 to o.warmupOps).map(_ => runOp(traced = false))
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + Stats.median(setups.map(_._1)) + warmS

      val exec = new ExecListener
      val steal0 = Session.cpuTicks
      val windowNs = (o.seconds * 1e9).toLong
      val start = System.nanoTime()
      // a traced run measures its first half untraced, so the difference
      // between the halves is the tracing overhead
      var tracing = false
      do {
        if (o.trace && !tracing && System.nanoTime() - start >= windowNs / 2 &&
            records.nonEmpty) {
          tracing = true
          spark.sparkContext.addSparkListener(exec)
          tracer.enabled = true
        }
        records += runOp(tracing)
      } while (System.nanoTime() - start < windowNs)
      if (tracing) Session.drainListener(spark, exec)
      val steal1 = Session.cpuTicks
      val stealShare = (steal1._2 - steal0._2).toDouble / math.max(1L, steal1._1 - steal0._1)

      // each fixture check counts as one operation
      val attempted = setups.size + warm.size + records.size
      val failed = setups.count(!_._2.ok) + (warm ++ records).count(!_.ok)
      val good = records.filter(_.ok).toSeq
      def lat(rs: Seq[OpRecord]) = rs.filter(_.kind == w.latencyKind).map(_.ms)
      def itemsPerS(rs: Seq[OpRecord]) = Stats.medianRate(rs.filter(_.kind == w.itemKind))
      val p90 = Stats.pct(lat(good), 90)
      val beyondP90 = lat(good).count(_ > p90)
      if (beyondP90 < 10) System.err.println(s"[perfbench] only $beyondP90 " +
        s"${w.latencyKind} samples beyond p90; lengthen --seconds")
      val e2e = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("op_p50_ms", Stats.pct(lat(good), 50), "ms"),
        Metric("op_p90_ms", p90, "ms"),
        Metric("items_per_s", itemsPerS(good), "1/s"))
      val named = Seq(Metric("ops_failed_ratio", failed.toDouble / attempted, "ratio"),
        Metric("peak_rss_mb", Session.peakRssMb, "MB"),
        Metric("cpu_steal_share", stealShare, "ratio"),
        Metric("op_samples", lat(good).size.toDouble, "count"),
        Metric("op_beyond_p90", beyondP90.toDouble, "count")) ++
        w.named(good, Stats.median(setups.map(_._2.bulkloadS)))

      val metrics = if (!o.trace) e2e else {
        val untraced = good.filter(!_.traced)
        val traced = good.filter(_.traced)
        val overhead = Seq(
          Metric("trace.overhead_op_p50_ms",
            Stats.pct(lat(traced), 50) - Stats.pct(lat(untraced), 50), "ms"),
          Metric("trace.overhead_items_per_s",
            itemsPerS(traced) - itemsPerS(untraced), "1/s"))
        Layers.all(w, traced, exec, tracer) ++ overhead ++
          Micro.run()
      }

      println(s"[perfbench] workload=${o.workload} seed=${o.seed} " +
        s"trace=${if (o.trace) 1 else 0} ops=$attempted failed=$failed " +
        s"session_s=${fmt(sessionS)} setups_s=${setups.map(t => fmt(t._1)).mkString(",")} " +
        s"warmup_s=${fmt(warmS)} cpu_steal_share=${fmt(stealShare)}")
      (named ++ e2e).foreach(m =>
        println(f"[perfbench] ${o.workload}%-16s ${m.name}%-38s ${fmt(m.value)}%14s ${m.unit}"))
      val json = Json.result(correct = failed == 0 && attempted > 0,
        attempted, failed, metrics)
      o.report.foreach(p => Files.write(new File(p),
        Json.report(o.workload, o.seed, o.trace, attempted, failed,
          named ++ e2e ++ (if (o.trace) metrics else Nil))))
      println(json)
    } finally spark.stop()
  }
}

/** Command-line options (see `perfbench/run.py`, which supplies them). */
final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, cores: Int, runDir: String,
                      params: Map[String, String], setupReps: Int,
                      warmupOps: Int, inject: Set[String],
                      report: Option[String])

object Args {
  def apply(a: Array[String]): Args = {
    val kv = a.grouped(2).map { case Array(k, v) => k -> v
      case other => throw new IllegalArgumentException(
        s"expected --flag value pairs, got ${other.mkString(" ")}") }.toSeq
    def one(k: String): String = kv.collectFirst { case (`k`, v) => v }
      .getOrElse(throw new IllegalArgumentException(s"missing $k"))
    def opt(k: String): Option[String] = kv.collectFirst { case (`k`, v) => v }
    Args(one("--workload"), one("--seed").toLong, one("--seconds").toDouble,
      one("--trace") == "1", one("--cores").toInt, one("--run-dir"),
      kv.collect { case ("--param", p) =>
        val i = p.indexOf('='); p.take(i) -> p.drop(i + 1) }.toMap,
      opt("--setup-reps").map(_.toInt).getOrElse(3),
      opt("--warmup-ops").map(_.toInt).getOrElse(0),
      kv.collect { case ("--inject", v) => v }.toSet,
      opt("--report"))
  }
}

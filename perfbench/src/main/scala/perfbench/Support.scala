package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

object Session {
  /** The user-facing graft session with the benchmark's fixed settings:
    * `local[cores]`, shuffle partitions equal to cores, no UI, and every
    * scratch file under the run directory.
    */
  def start(cores: Int, runDir: File): SparkSession = {
    val local = new File(runDir, "spark-local"); local.mkdirs()
    val s = graft.GraftSession.builder(master = s"local[$cores]",
        shufflePartitions = cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir",
        new File(runDir, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Waits until the listener has seen every job so far: a marker job's
    * end event arrives after all earlier events.
    */
  def drainListener(spark: SparkSession, exec: ExecListener): Unit = {
    val sc = spark.sparkContext
    val marker = new java.util.concurrent.atomic.AtomicInteger(-1)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("perfbench.marker") != null))
          marker.set(e.jobId)
    }
    sc.addSparkListener(l)
    sc.setLocalProperty("perfbench.marker", "1")
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty("perfbench.marker", null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while ((marker.get() < 0 || !exec.allJobsEnded(marker.get())) &&
           System.nanoTime() < deadline) Thread.sleep(5)
    sc.removeSparkListener(l)
    sc.removeSparkListener(exec)
  }

  /** (all, steal) CPU ticks of the machine so far (Linux `/proc/stat`),
    * zeros elsewhere: the share of CPU time the host took from this
    * machine during a window.
    */
  def cpuTicks: (Long, Long) = {
    val f = new File("/proc/stat")
    if (!f.exists()) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val t = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (t.sum, if (t.length > 7) t(7) else 0L)
      } finally src.close()
    }
  }

  /** Peak resident set of this JVM in MB (Linux `VmHWM`), 0 elsewhere. */
  def peakRssMb: Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") =>
          l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)
      finally src.close()
    }
  }
}

object Files {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def write(f: File, s: String): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.print(s) finally w.close()
  }

  /** Regular files under `dir` whose name ends with `suffix`. */
  def listRecursive(dir: File, suffix: String): Seq[File] =
    if (!dir.exists()) Nil
    else if (dir.isFile) (if (dir.getName.endsWith(suffix)) Seq(dir) else Nil)
    else Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName)
      .flatMap(listRecursive(_, suffix))
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Median over operations of items per second of call time. */
  def medianRate(rs: Seq[OpRecord]): Double =
    median(rs.filter(_.nanos > 0).map(r => r.items / (r.nanos / 1e9)))

  /** Linear-interpolated percentile; 0 for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def metrics(ms: Seq[Metric]): String =
    ms.map(m => s"${str(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}")
      .mkString("{", ", ", "}")

  /** The one-line result the benchmark's caller parses. */
  def result(correct: Boolean, attempted: Int, failed: Int,
             ms: Seq[Metric]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${metrics(ms)}}"""

  /** A run's full record, for `perfbench/compare.py`. */
  def report(workload: String, seed: Long, trace: Boolean, attempted: Int,
             failed: Int, ms: Seq[Metric]): String =
    s"""{"workload": ${str(workload)}, "seed": $seed, "trace": ${if (trace) 1 else 0}, "attempted": $attempted, "failed": $failed, "metrics": ${metrics(ms)}}""" + "\n"
}

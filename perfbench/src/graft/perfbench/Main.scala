package graft.perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `perfbench/run.py`:
  *
  *   --workload hot|longtail --seed N --seconds S --trace 0|1
  *   --work DIR (fresh scratch directory) --spans FILE (traced run)
  *
  * Prints the operations per phase and every metric by name and unit,
  * then, as the last line, the result object.
  */
object Main {
  val Workloads = Seq("hot", "longtail")

  def main(argv: Array[String]): Unit = {
    val opts = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val work = opt("work")
    val spark = session(work)
    try {
      val workload = opt("workload")
      require(Workloads.contains(workload), s"unknown workload $workload")
      val traced = opt("trace") == "1"
      val trace = new Trace(traced)
      val report = new Report
      val run = new Run(spark, workload, opt("seed").toLong, opt("seconds").toInt, trace,
        s"$work/run", if (workload == "hot") Sizes.Hot else Sizes.Longtail, report)
      run.execute()
      if (traced) trace.write(opt("spans"))
      print(report, if (traced) run.layerMetrics else report.metrics.toSeq, traced)
    } finally spark.stop()
  }

  def session(work: String): SparkSession = {
    // one core is left to the driver thread, which schedules every job:
    // on a shared host, a job's latency then depends less on whether all
    // cores are free
    val cores = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors() - 1))
    Files.createDirectories(Paths.get(work))
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) sys.error(s"metric value $v is not a number") else v.toString

  def print(report: Report, metrics: Seq[(String, (Double, String))], traced: Boolean): Unit = {
    println(f"${"phase"}%-36s ${"attempted"}%10s ${"failed"}%8s")
    report.phases.foreach { case (p, c) => println(f"$p%-36s ${c(0)}%10d ${c(1)}%8d") }
    println(f"${"metric"}%-40s ${"value"}%16s unit")
    report.metrics.foreach { case (n, (v, u)) => println(f"$n%-40s $v%16.6f $u") }
    if (traced) {
      metrics.foreach { case (n, (v, u)) => println(f"$n%-40s $v%16.6f $u") }
      // the traced run's end-to-end figures, for the tracing overhead
      println("#e2e " + report.metrics.map { case (n, (v, _)) => s""""$n": ${num(v)}""" }.mkString("{", ", ", "}"))
    }
    val ms = metrics.map { case (n, (v, u)) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${report.mismatches == 0}, "attempted": ${report.attempted}, "failed": ${report.failed}, """ +
      s""""metrics": ${ms.mkString("{", ", ", "}")}}""")
  }
}

package perfbench

/** Harness entry: `perfbench.Main --workload W --out result.json ...`.
  * Runs one workload under the shared Spark profile and writes the raw
  * result (samples, layer figures, checks, settings) for run.py to reduce.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val cores = o.int("cores")
    val scratch = o("scratch")
    val tr = new Tracer(o("trace") == "1")
    val res = new Result
    val spark = o("workload") match {
      case "analytics_warm" => Analytics.run(o, tr, res, cores, scratch)
      case "nightly_crawl" => NightlyCrawl.run(o, tr, res, cores, scratch)
      case "cpms_live" => CpmsLive.run(o, tr, res, cores, scratch, concurrent = true)
      case "cpms_phased" => CpmsLive.run(o, tr, res, cores, scratch, concurrent = false)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    res.e2e("rss_peak_mb") = Mem.peakRssMb
    val settings = Map(
      "spark_conf" -> Session.effective(spark),
      "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
        .toArray.toSeq.map(_.toString),
      "spark_version" -> spark.version)
    o.get("spans").foreach(tr.writeSpans)
    spark.stop()
    res.write(o("out"), settings)
  }
}

package perfbench

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Layer figures shared by the workloads. */
object Workload {
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** `derived_cache.artifacts` and `.bytes` from `DerivedCache.status` of one corpus dir. */
  def derivedCacheLayers(spark: SparkSession, corpus: String, res: Result): Unit = {
    val rows = graft.operators.DerivedCache.status(spark, corpus).collect()
    res.layers("derived_cache.artifacts") = rows.length.toLong
    res.layers("derived_cache.bytes") = rows.map(_.getLong(3)).sum
  }

  /** Number of artifacts `DerivedCache.status` reports stale. */
  def staleArtifacts(spark: SparkSession, corpus: String): Long =
    graft.operators.DerivedCache.status(spark, corpus).collect().count(!_.getBoolean(1)).toLong

  /** `spark.*` and `jvm.gc_s` over the jobs that started in the window. */
  def sparkLayers(tr: Tracer, res: Result, from: Double, to: Double, cores: Int,
                  wallS: Double, gcMs: Long): Unit = {
    val js = tr.allJobs.filter(j => j.start >= from && j.start <= to)
    val busy = js.map(_.busyMs).sum / 1000.0
    res.layers("spark.tasks") = js.map(_.tasks).sum
    res.layers("spark.task_busy_s") = busy
    res.layers("spark.core_busy_share") = if (wallS > 0) busy / (cores * wallS) else 0.0
    res.layers("spark.shuffle_fetch_wait_s") = js.map(_.fetchWaitMs).sum / 1000.0
    res.layers("spark.spill_bytes") = js.map(_.spillBytes).sum
    res.layers("jvm.gc_s") = gcMs / 1000.0
    res.detail("trace_bookkeeping_s") = tr.bookkeepingSeconds
  }
}

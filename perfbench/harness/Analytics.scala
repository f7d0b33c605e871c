package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** `analytics_warm`: a closed loop of one client over a panel of registry
  * queries (`graft.SparkEntry.queries`) on the generated corpus. Set-up
  * starts each time from an empty artifact store and a new session and runs
  * one cold pass; the measurement runs warm passes in a seed-permuted order.
  * The traced run then also runs the two nights of [[NightlyCrawl.nights]].
  */
object Analytics {
  type Fn = (SparkSession, String) => DataFrame

  /** The registering module of every registry query. */
  def modules: Map[String, String] = {
    import graft.operators._
    Seq("relational" -> Relational.all, "relational2" -> Relational2.all,
        "training_data" -> TrainingData.all, "curation" -> Curation.all,
        "prep" -> Prep.all, "web_graph" -> WebGraph.all)
      .flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
  }
  val Modules = Seq("relational", "relational2", "training_data", "curation", "prep", "web_graph")

  final case class Sample(total: Double, construct: Double, plan: Double, exec: Double)

  /** construct (calling fn) -> plan (executedPlan) -> execute (noop write). */
  def timed(spark: SparkSession, tr: Tracer, corpus: String, name: String, fn: Fn,
            op: String): (Sample, DataFrame) =
    tr.span(s"query:$name", op) {
      val t0 = System.nanoTime()
      val df = tr.span(s"construct:$name", op)(fn(spark, corpus))
      val t1 = System.nanoTime()
      tr.span(s"plan:$name", op)(df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      tr.clearPlans()
      tr.span(s"exec:$name", op)(df.write.mode("overwrite").format("noop").save())
      val t3 = System.nanoTime()
      (Sample((t3 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9), df)
    }

  def run(o: Opts, tr: Tracer, res: Result, cores: Int, scratch: String): SparkSession = {
    val corpus = o("corpus")
    val store = sys.env("SPARK_GRAFT_CACHE_DIR")
    val panel = o("panel").split(",").toSeq
    val registry = graft.SparkEntry.queries
    val mod = modules
    val missing = panel.filterNot(registry.contains)
    require(missing.isEmpty, s"unknown registry queries: ${missing.mkString(",")}")
    val expected = o.get("expected").map(readExpected).getOrElse(Map.empty)

    // set-up, several times: empty artifact store, new session, cold pass
    val setups = mutable.ArrayBuffer.empty[Double]
    val cold = mutable.LinkedHashMap.empty[String, Double]
    val digests = mutable.LinkedHashMap.empty[String, String]
    var spark: SparkSession = null
    for (k <- 0 until o.int("setups")) {
      if (spark != null) spark.stop()
      Files.delete(store)
      val t0 = System.nanoTime()
      spark = Session.start(cores, scratch)
      if (k == o.int("setups") - 1) tr.attach(spark)
      var digestS = 0.0
      for (q <- panel) {
        val (s, df) = timed(spark, tr, corpus, q, registry(q), s"cold-$k-$q")
        if (k == 0) {
          cold(q) = s.total
          // untimed: the digest re-executes the query's DataFrame
          val t = System.nanoTime()
          digests(q) = Digest.of(df)
          digestS += (System.nanoTime() - t) / 1e9
        }
      }
      // set-up time is session start plus the cold calls, digests excluded
      setups += (System.nanoTime() - t0) / 1e9 - digestS
    }
    res.e2e("setup_s") = setups.toSeq
    res.phase("setup")
    res.detail("digests") = digests
    for (q <- panel) expected.get(q) match {
      case Some(e) => res.check(s"digest:$q", e == digests(q), s"expected $e got ${digests(q)}")
      case None => res.check(s"digest:$q", o.get("expected").isEmpty, "no expected digest")
    }

    // Tables loaders, warm: the scan-plan memo path every query starts on
    val loaders: Seq[(SparkSession, String) => DataFrame] = Seq(
      graft.Tables.region, graft.Tables.nation, graft.Tables.customer, graft.Tables.supplier,
      graft.Tables.part, graft.Tables.orders, graft.Tables.lineitem, graft.Tables.documents,
      graft.Tables.embeddings, graft.Tables.events)

    // measurement: warm passes, seed-permuted order, until --seconds
    val rng = new scala.util.Random(o.long("seed"))
    val samples = mutable.LinkedHashMap(panel.map(q => q -> mutable.ArrayBuffer.empty[Sample]): _*)
    val facts = mutable.HashMap.empty[String, (Int, Int)]
    val jobsPerQuery = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Long, Long)]]
    val gc0 = Workload.gcMs
    val m0 = System.nanoTime()
    val mStart = Clock.ms
    var passes = 0
    while (passes < 2 || Clock.secondsSince(m0) < o.double("seconds")) {
      for (q <- rng.shuffle(panel)) {
        val op = s"warm-$passes-$q"
        val (s, _) = timed(spark, tr, corpus, q, registry(q), op)
        samples(q) += s
        if (tr.enabled) {
          if (!facts.contains(q)) facts(q) = tr.lastSavePlanFacts()
          val top = tr.allSpans.filter(x => x.op == op && x.name == s"query:$q")
          val js = top.flatMap(tr.jobsUnder)
          jobsPerQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) +=
            ((js.size.toLong, js.map(_.tasks).sum, js.map(_.shuffleBytes).sum))
        }
      }
      passes += 1
    }
    val mEnd = Clock.ms
    val measured = Clock.secondsSince(m0)
    res.phase("measure")

    def med(xs: Seq[Double]): Double = Stats.median(xs)
    res.e2e("op_ms") = samples.values.flatten.map(_.total * 1000).toSeq
    res.e2e("pass_s") = Seq(samples.values.map(s => med(s.map(_.total).toSeq)).sum)
    res.e2e("disk_mb") = Files.bytes(store) / 1e6
    res.detail("passes") = passes
    res.detail("measured_s") = measured
    res.detail("cold_pass_s") = cold.values.sum
    res.detail("analytics_total_s") = samples.values.map(s => med(s.map(_.total).toSeq)).sum
    res.detail("analytics_geomean_ms") = math.exp(
      samples.values.map(s => math.log(med(s.map(_.total).toSeq) * 1000)).sum / samples.size)
    res.detail("per_query_median_ms") = samples.map { case (q, s) => q -> med(s.map(_.total).toSeq) * 1000 }
    res.detail("cold_ms") = cold.map { case (q, v) => q -> v * 1000 }

    if (tr.enabled) {
      for (m <- Modules) {
        val qs = panel.filter(q => mod(q) == m)
        def sumMed(f: Sample => Double) = qs.map(q => med(samples(q).map(f).toSeq)).sum
        res.layers(s"$m.construct_s") = sumMed(_.construct)
        res.layers(s"$m.plan_s") = sumMed(_.plan)
        res.layers(s"$m.exec_s") = sumMed(_.exec)
        res.layers(s"$m.cold_s") = qs.map(cold).sum
        def jobMed(i: Int) = qs.map(q => med(jobsPerQuery.getOrElse(q, Nil)
          .map(t => t.productElement(i).asInstanceOf[Long].toDouble).toSeq)).sum
        res.layers(s"$m.jobs") = jobMed(0)
        res.layers(s"$m.tasks") = jobMed(1)
        res.layers(s"$m.shuffle_bytes") = jobMed(2)
        res.layers(s"$m.exchanges") = qs.map(q => facts.getOrElse(q, (0, 0))._1).sum
        res.layers(s"$m.reused_exchanges") = qs.map(q => facts.getOrElse(q, (0, 0))._2).sum
      }
      // warm Tables loader calls: one resolve of every loader, summed medians
      val perLoader = loaders.map { l =>
        l(spark, corpus)
        med((1 to 5).map { _ =>
          val t = System.nanoTime(); l(spark, corpus); (System.nanoTime() - t) / 1e6 })
      }
      res.layers("tables.resolve_ms") = perLoader.sum
      Workload.derivedCacheLayers(spark, corpus, res)
      Workload.sparkLayers(tr, res, mStart, mEnd, cores, measured, Workload.gcMs - gc0)
      res.phase("layers")
      NightlyCrawl.nights(spark, o, tr, res, s"$scratch/nightly", crawlTier = false)
    }
    spark
  }

  def readExpected(path: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val text = try src.mkString finally src.close()
    "\"(q[0-9]+_[a-z0-9_]+)\"\\s*:\\s*\"([0-9]+:-?[0-9]+)\"".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
  }
}

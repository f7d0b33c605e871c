package perfbench

import graft.cpms.{Etl, Generators, Queries, Schemas, Scoring, Streaming}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Open-loop event schedule: event i is due at `t0 + i / rate` seconds, by
  * the wall clock, whatever the sink does. Every `tickMs` (the landing
  * buffer interval) one landing carries every event that is due; a slow
  * sink makes the next landing larger, never shifts the schedule. The
  * lateness of each landing (landed time minus the scheduled time of its
  * oldest event) is recorded.
  */
final class OpenLoop(rate: Double, n: Int, tickMs: Long,
                     sink: (Int, Int) => Unit) {
  @volatile var landed = 0
  @volatile var maxLatenessS = 0.0
  var t0Ms = 0.0

  def scheduledMs(i: Int): Double = t0Ms + i * 1000.0 / rate

  /** Number of events due at wall time `nowMs`. */
  def due(nowMs: Double): Int =
    math.min(n, math.max(0, math.floor((nowMs - t0Ms) * rate / 1000.0).toInt + 1))

  def run(startMs: Double): Unit = {
    t0Ms = startMs
    var tick = 1L
    while (landed < n) {
      val wake = math.min(t0Ms + tick * tickMs, scheduledMs(n - 1))
      val wait = wake - Clock.ms
      if (wait > 0) Thread.sleep(math.ceil(wait).toLong)
      tick += 1
      val d = due(Clock.ms)
      if (d > landed) {
        sink(landed, d)
        maxLatenessS = math.max(maxLatenessS, (Clock.ms - scheduledMs(landed)) / 1000.0)
        landed = d
      }
    }
  }
}

/** `cpms_live` and `cpms_phased`: ETL the reference CSVs, then stream
  * wearable events into the lake + aggregates at a fixed rate, serve
  * status / dashboard / predict requests from one closed-loop client, and
  * finish by draining a backlog. With `concurrent` (`cpms_live`) the client
  * runs during the ingest; without it (`cpms_phased`) the client runs
  * after the ingest for half as long, so no request reads the aggregates
  * while a merge swaps them.
  */
object CpmsLive {
  private val PathRe = "\"path\":\"([^\"]+)\"".r

  /** Names of the files the file source has committed to a batch, from its
    * checkpoint log (compacted and delta entries alike).
    */
  def committedFiles(ckpt: String): Set[String] = {
    val dir = new java.io.File(s"$ckpt/sources/0")
    Option(dir.listFiles()).toSeq.flatten.filter(_.isFile).filterNot(_.getName.startsWith("."))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toList finally src.close()
      }.flatMap(l => PathRe.findFirstMatchIn(l).map(_.group(1).split('/').last)).toSet
  }

  /** Ingest runs and requests of each kind on throwaway dirs, untimed: the
    * live measurement then starts with the ingest and serve paths JIT-warm
    * (with a single warm-up run, the first live runs were up to 40% slower
    * than the later ones).
    */
  private def warmUp(spark: SparkSession, star: String, dir: String, seed: Long): Unit = {
    import spark.implicits._
    val users = (1 to 2000).map(i => new java.util.UUID(seed, i.toLong).toString)
    new java.io.File(s"$dir/landing").mkdirs()
    val raw = spark.readStream.schema("value string").text(s"$dir/landing")
    for (k <- 0 until 4) {
      Generators.wearableEvents(spark, users, 1000, seed + 7 + k).as[String]
        .write.mode("append").text(s"$dir/landing")
      Streaming.start(spark, raw, s"$dir/lake", s"$dir/agg", s"$dir/ckpt").awaitTermination()
    }
    val aggs = spark.read.schema(Schemas.aggregates).parquet(s"$dir/agg")
    for (k <- 0 until 2) {
      Queries.workerStatus(aggs, users(k)).collect()
      val scores = spark.read.parquet(s"$star/cognitive_scores")
      Queries.dashboardRecent(spark.read.parquet(s"$star/users"), scores,
        spark.read.parquet(s"$star/tracking_risks")).collect()
      Queries.dashboardStats(scores).collect()
      val req = Seq(Schemas.PredictRequest(users(k), 7.0, 4, 5.5, "Moderate", 100, 260.0, 75)).toDF()
      Scoring.appendResults(Scoring.scoreDemo(Scoring.assembleFeatures(req, Queries.latestPerUser(aggs))),
        s"$dir/tracking_risks", s"$dir/cognitive_scores")
    }
    Files.delete(dir)
  }

  def run(o: Opts, tr: Tracer, res: Result, cores: Int, scratch: String,
          concurrent: Boolean): SparkSession = {
    val work = s"$scratch/cpms"
    val star = s"$work/star"
    val lake = s"$work/lake"
    val agg = s"$work/agg"
    val ckpt = s"$work/ckpt"
    val landing = s"$work/landing"
    val staging = s"$work/landing-tmp"
    val rate = o.double("rate")
    val seconds = o.double("seconds")
    val nLive = (rate * seconds).toInt
    val nBacklog = o.int("backlog")
    val seed = o.long("seed")

    // set-up, several times: new session, ETL of the CSVs into the star schema
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var normalizeS = 0.0
    var orphans = 0L
    for (_ <- 0 until o.int("setups")) {
      if (spark != null) spark.stop()
      Files.delete(work)
      val t0 = System.nanoTime()
      spark = Session.start(cores, scratch)
      val tn = System.nanoTime()
      val n = Etl.normalize(spark, o("csv"))
      normalizeS = (System.nanoTime() - tn) / 1e9
      orphans = n.csOrphans + n.trOrphans
      Etl.save(n, star)
      setups += (System.nanoTime() - t0) / 1e9
    }
    res.e2e("setup_s") = setups.toSeq
    res.phase("setup")
    warmUp(spark, star, s"$work/warm", seed)
    res.phase("warm_up")
    tr.attach(spark)
    res.check("etl.orphans", orphans == 0L, s"$orphans orphans")
    val session = spark
    import session.implicits._

    // inputs: a user population far larger than a batch, seeded payloads
    val rng = new scala.util.Random(seed)
    val etlUsers = spark.read.parquet(s"$star/users").select("user_id").as[String].collect().toSeq
    val population = rng.shuffle(etlUsers ++
      (etlUsers.size until o.int("users")).map(_ => new java.util.UUID(rng.nextLong(), rng.nextLong()).toString))
    val payloads = Generators.wearableEvents(spark, population,
        (nLive + o.int("drains") * nBacklog).toLong, seed)
      .as[String].collect()
    res.phase("payloads")

    val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double)]()
    if (tr.enabled) spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val ms = Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
        if (p.numInputRows > 0) progress.add((p.batchId, p.numInputRows, ms))
      }
    })

    new java.io.File(landing).mkdirs()
    new java.io.File(staging).mkdirs()
    def land(from: Int, until: Int): Unit = {
      val name = f"ev-$from%08d.json"
      val tmp = java.nio.file.Paths.get(staging, name)
      val w = java.nio.file.Files.newBufferedWriter(tmp)
      try (from until until).foreach { i => w.write(payloads(i)); w.write('\n') }
      finally w.close()
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(landing, name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val fileRange = new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
    val gen = new OpenLoop(rate, nLive, o.long("land_ms"), (a, b) => {
      fileRange.put(f"ev-$a%08d.json", (a, b)); land(a, b) })

    // ingest: an AvailableNow run whenever events are pending
    val raw = spark.readStream.schema("value string").text(landing)
    val mergedAt = new Array[Double](payloads.length) // run end ms per event
    var merged = 0
    val seen = mutable.Set.empty[String]
    val runs = mutable.ArrayBuffer.empty[(Double, Double, Int)]
    var backlogMax = 0
    def ingestOnce(): Unit = {
      val pending = fileRange.size() - seen.size
      if (pending <= 0) { Thread.sleep(10); return }
      val start = Clock.ms
      backlogMax = math.max(backlogMax, gen.landed - merged)
      tr.span("stream:run", "ingest") {
        val q = Streaming.start(spark, raw, lake, agg, ckpt)
        q.awaitTermination()
      }
      val end = Clock.ms
      var n = 0
      for (f <- committedFiles(ckpt) if !seen.contains(f)) {
        seen += f
        val (a, b) = fileRange.get(f)
        (a until b).foreach(i => mergedAt(i) = end)
        n += b - a
      }
      merged += n
      runs += ((start, end, n))
    }

    // serve: one closed-loop client with a seeded request mix
    @volatile var stop = false
    val serveMs = mutable.Map("status" -> mutable.ArrayBuffer.empty[Double],
      "dashboard" -> mutable.ArrayBuffer.empty[Double], "predict" -> mutable.ArrayBuffer.empty[Double])
    var predicts = 0L
    val serveFailed = mutable.LinkedHashMap.empty[String, Long]
    var serveErr = ""
    def fail(kind: String, err: String): Unit = {
      serveFailed(kind) = serveFailed.getOrElse(kind, 0L) + 1
      if (serveErr.isEmpty) serveErr = s"$kind: $err"
    }
    val client = new Thread(() => {
      val r = new scala.util.Random(seed + 1)
      val exFreq = Seq("None", "Light", "Moderate", "Heavy")
      while (!stop) {
        val x = r.nextDouble()
        val kind = if (x < 0.8) "status" else if (x < 0.92) "dashboard" else "predict"
        val uid = if (kind == "predict") etlUsers(r.nextInt(etlUsers.size))
          else population(r.nextInt(population.size))
        val req = Schemas.PredictRequest(uid, 4 + r.nextInt(50) / 10.0, 1 + r.nextInt(10),
          1 + r.nextInt(110) / 10.0, exFreq(r.nextInt(4)), 100 * r.nextInt(3),
          200 + r.nextInt(200).toDouble, r.nextInt(101))
        val t0 = Clock.ms
        try {
          tr.span(s"serve:$kind", kind) {
            kind match {
              case "status" =>
                Queries.workerStatus(spark.read.schema(Schemas.aggregates).parquet(agg), uid).collect()
              case "dashboard" =>
                val users = spark.read.parquet(s"$star/users")
                val scores = spark.read.parquet(s"$star/cognitive_scores")
                val risks = spark.read.parquet(s"$star/tracking_risks")
                val rows = Queries.dashboardRecent(users, scores, risks).collect()
                Queries.dashboardStats(scores).collect()
                if (rows.length != 50) fail(kind, s"dashboard returned ${rows.length} rows")
              case _ =>
                val aggs = spark.read.schema(Schemas.aggregates).parquet(agg)
                val scored = Scoring.scoreDemo(Scoring.assembleFeatures(
                  Seq(req).toDF(), Queries.latestPerUser(aggs)), seed + predicts)
                Scoring.appendResults(scored, s"$star/tracking_risks", s"$star/cognitive_scores")
                predicts += 1
            }
          }
        } catch {
          // a failed request is a failed operation; the client goes on
          case e: Exception => fail(kind, String.valueOf(e.getMessage).take(300))
        }
        serveMs(kind) += Clock.ms - t0
      }
    })

    val gc0 = Workload.gcMs
    val m0 = System.nanoTime()
    val mStart = Clock.ms
    val genThread = new Thread(() => gen.run(Clock.ms))
    genThread.start()
    // the first merge lands the aggregates table the status reads need
    while (merged == 0) ingestOnce()
    if (concurrent) client.start()
    while (genThread.isAlive || merged < nLive) ingestOnce()
    genThread.join()
    val liveRuns = runs.length
    res.phase("live")
    if (!concurrent) {
      client.start()
      Thread.sleep((seconds * 500).toLong)
    }
    stop = true
    client.join()
    val measured = Clock.secondsSince(m0)
    if (!concurrent) res.phase("serve")

    // drain: a fixed backlog landed at once, three times; pass_s is the median
    val drains = o.int("drains")
    val drainS = (0 until drains).map { k =>
      val first = nLive + k * nBacklog
      val d0 = Clock.ms
      val chunk = math.max(1, nBacklog / 10)
      for (a <- first until first + nBacklog by chunk) {
        val b = math.min(first + nBacklog, a + chunk)
        fileRange.put(f"ev-$a%08d.json", (a, b)); land(a, b)
      }
      while (merged < first + nBacklog) ingestOnce()
      (Clock.ms - d0) / 1000.0
    }
    val mEnd = Clock.ms
    res.phase("drain")

    // correctness: aggregates, lake, predict appends, dashboard rows
    val sent = payloads.toSeq.toDF("value")
    val expectedAgg = Queries.latestPerUser(Streaming.parseEvents(sent)
      .filter(col("user_id").isNotNull && !col("corrupt"))
      .select("user_id", "ts", "heart_rate", "steps", "calories"))
    val actualAgg = spark.read.schema(Schemas.aggregates).parquet(agg)
    val (ea, aa) = (Digest.of(expectedAgg), Digest.of(actualAgg))
    res.check("aggregates == latestPerUser(sent)", ea == aa, s"expected $ea got $aa")
    val lakeDf = spark.read.parquet(lake)
    val lakeRows = lakeDf.count()
    val lakeIds = lakeDf.select("event_id").distinct().count()
    res.check("lake rows == sent", lakeRows == payloads.length && lakeIds == payloads.length,
      s"lake $lakeRows rows / $lakeIds ids, sent ${payloads.length}")
    val csApp = spark.read.parquet(s"$star/cognitive_scores").filter(col("cs_id").startsWith("cs-")).count()
    val trApp = spark.read.parquet(s"$star/tracking_risks").filter(col("tr_id").startsWith("tr-")).count()
    res.check("predict appends == predicts", csApp == predicts && trApp == predicts,
      s"appended cs=$csApp tr=$trApp, predicts=$predicts")
    val served = serveMs.values.map(_.length.toLong).sum
    res.attempted += served
    res.failed += serveFailed.values.sum
    if (serveFailed.nonEmpty) res.checks += Map("name" -> "serve", "ok" -> false,
      "info" -> s"${serveFailed.values.sum} of $served requests failed, first: $serveErr")
    res.detail("serve_failed") = serveFailed
    res.phase("checks")

    val fresh = (0 until nLive).map(i => (mergedAt(i) - gen.scheduledMs(i)) / 1000.0)
    res.e2e("op_ms") = fresh.map(_ * 1000)
    res.e2e("pass_s") = drainS
    res.e2e("disk_mb") = (Files.bytes(lake) + Files.bytes(agg)) / 1e6
    res.detail("ingest_capacity_eps") = nBacklog / Stats.median(drainS)
    res.detail("serve_ms") = serveMs.values.flatten.toSeq
    res.detail("requests") = serveMs.map { case (k, v) => k -> v.length }
    res.detail("runs") = runs.map { case (a, b, n) => f"${a - mStart}%.0f+${b - a}%.0fms:$n" }.mkString(" ")
    res.detail("runs_live") = liveRuns
    res.detail("runs_total") = runs.length
    res.detail("measured_s") = measured
    res.detail("predicts") = predicts

    if (tr.enabled) {
      res.layers("etl.normalize_s") = normalizeS
      res.layers("etl.orphans") = orphans
      val ps = progress.toArray.map(_.asInstanceOf[(Long, Long, Double)]).toSeq
      res.layers("stream.batches") = ps.length.toLong
      res.layers("stream.rows_per_batch") =
        if (ps.isEmpty) 0.0 else ps.map(_._2).sum.toDouble / ps.length
      res.layers("stream.batch_ms_p50") = Stats.median(ps.map(_._3))
      res.layers("stream.backlog_max_events") = backlogMax.toLong
      // streaming jobs all carry the query's start call site, so the two
      // sinks are told apart by the output path of each write action
      val ws = tr.allWrites.filter(w => w._1 >= mStart && w._1 <= mEnd)
      def writeS(suffix: String) = ws.filter(_._3.endsWith(suffix)).map(_._2).sum / 1000.0
      res.layers("stream.lake_append_s") = writeS("/lake")
      res.layers("stream.merge_s") = writeS("/agg.staging")
      // parse alone, through the public parser over the live payloads
      val live = payloads.take(nLive).toSeq.toDF("value").cache()
      live.count()
      res.layers("stream.parse_s") = Stats.median((1 to 3).map { _ =>
        val t = System.nanoTime()
        Streaming.parseEvents(live).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t) / 1e9 })
      live.unpersist()
      res.layers("stream.agg_rows") = actualAgg.count()
      res.layers("stream.bytes_per_event") = Files.bytes(lake).toDouble / payloads.length
      res.layers("serve.status_ms_p50") = Stats.median(serveMs("status").toSeq)
      res.layers("serve.dashboard_ms_p50") = Stats.median(serveMs("dashboard").toSeq)
      res.layers("serve.predict_ms_p50") = Stats.median(serveMs("predict").toSeq)
      res.layers("gen.lateness_max_s") = gen.maxLatenessS
      Workload.sparkLayers(tr, res, mStart, mEnd, cores, (mEnd - mStart) / 1000.0, Workload.gcMs - gc0)
    }
    res.detail("gen_lateness_max_s") = gen.maxLatenessS
    spark
  }
}

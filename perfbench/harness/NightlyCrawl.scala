package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Two nights of `graft.Nightly.run`: night 1 from an empty artifact store,
  * then a slice of documents (and, with the crawl tier, one WARC shard) is
  * appended, and night 2 runs the append-incremental path. `nightly_crawl`
  * runs them with the crawl tier; the traced `analytics_warm` run runs them
  * without it, which keeps that run within its time limit, and times the
  * WARC door on its own.
  */
object NightlyCrawl {
  private val StageRe =
    "\\{\"stage\":\"([a-z_]+)\",\"sec\":([0-9.]+),\"rows\":([0-9]+)\\}".r
  private val AuditRe = "\"audit_violations\":([0-9]+)".r

  def stages(report: String): Seq[(String, Double, Long)] =
    StageRe.findAllMatchIn(report).map(m =>
      (m.group(1), m.group(2).toDouble, m.group(3).toLong)).toSeq

  /** Both nights on fresh copies of the corpus and the crawl under `work`.
    * The artifact store is keyed by corpus path, so night 1 is cold even in
    * a store that already serves another corpus. Records the checks, the
    * nightly figures and, traced, the `nightly.*`, `sources.*` and
    * `derived_cache.rebuilt_on_append` layers. Returns the two nights' wall
    * times and every stage's time.
    */
  def nights(spark: SparkSession, o: Opts, tr: Tracer, res: Result, work: String,
             crawlTier: Boolean): (Double, Double, Seq[Double]) = {
    val corpus = s"$work/corpus"
    val warc = s"$work/warc"
    val expected = o.get("nightly_expected").map(readExpected).getOrElse(Map.empty)
    Files.delete(work)
    Files.copyTree(o("base_corpus"), corpus)
    Files.copyTree(o("base_warc"), warc)

    def night(tag: String): (Double, String) =
      tr.span(s"nightly:$tag", tag) {
        val t = System.nanoTime()
        val report = graft.Nightly.run(spark, corpus, s"$work/out-$tag",
          if (crawlTier) Some(warc) else None)
        ((System.nanoTime() - t) / 1e9, report)
      }
    val (coldS, r1) = night("cold")
    res.phase("nightly_cold")
    // the append: one new documents part file and, for the crawl tier, one new WARC shard
    for ((src, dir) <- Seq(o("append_docs") -> s"$corpus/documents.parquet") ++
         (if (crawlTier) Seq(o("append_warc") -> warc) else Nil)) {
      val from = java.nio.file.Paths.get(src)
      java.nio.file.Files.copy(from, java.nio.file.Paths.get(dir, from.getFileName.toString))
    }
    val stale = if (tr.enabled) Workload.staleArtifacts(spark, corpus) else 0L
    val (appendS, r2) = night("append")
    res.phase("nightly_append")

    val s1 = stages(r1)
    val s2 = stages(r2)
    for ((tag, report, ss) <- Seq(("cold", r1, s1), ("append", r2, s2))) {
      val v = AuditRe.findFirstMatchIn(report).map(_.group(1).toLong).getOrElse(-1L)
      res.check(s"$tag.audit_violations", v == 0L, s"audit_violations=$v")
      val want = if (crawlTier) 19 else 10
      res.check(s"$tag.stages", ss.length == want, s"${ss.length} stages, expected $want")
      for ((st, _, rows) <- ss) expected.get(s"$tag.$st") match {
        case Some(e) => res.check(s"$tag.$st.rows", e == rows, s"expected $e rows, got $rows")
        case None => res.check(s"$tag.$st.rows", o.get("nightly_expected").isEmpty,
          s"no expected row count ($rows rows)")
      }
    }
    res.detail("nightly_cold_s") = coldS
    res.detail("nightly_append_s") = appendS
    res.detail("nightly_disk_mb") = (Files.bytes(s"$work/out-cold") + Files.bytes(s"$work/out-append")) / 1e6
    res.detail("stage_rows") = (s1.map(s => s"cold.${s._1}" -> s._3) ++
      s2.map(s => s"append.${s._1}" -> s._3)).toMap
    res.detail("stage_s") = (s1.map(s => s"cold.${s._1}" -> s._2) ++
      s2.map(s => s"append.${s._1}" -> s._2)).toMap

    if (tr.enabled) {
      for ((st, sec, _) <- s1) res.layers(s"nightly.cold.${st}_s") = sec
      for ((st, sec, _) <- s2) res.layers(s"nightly.append.${st}_s") = sec
      res.layers("derived_cache.rebuilt_on_append") = stale
      // the WARC door alone: parse + HTML extraction over the crawl dir
      val bytes = Files.bytes(warc)
      def parse(): Long = graft.sources.Crawl.crawlDocs(graft.sources.Crawl.readWarc(spark, warc))
        .agg(sum(length(col("text"))), count(lit(1))).head().getLong(1)
      parse()
      val secs = (1 to 3).map { _ =>
        val t = System.nanoTime(); parse(); (System.nanoTime() - t) / 1e9 }
      res.layers("sources.warc_parse_mb_s") = bytes / 1e6 / Stats.median(secs)
    }
    (coldS, appendS, (s1 ++ s2).map(_._2))
  }

  /** `nightly_crawl`, run on request: set-up is a new session, several times. */
  def run(o: Opts, tr: Tracer, res: Result, cores: Int, scratch: String): SparkSession = {
    val store = sys.env("SPARK_GRAFT_CACHE_DIR")
    val work = s"$scratch/nightly"
    val setups = scala.collection.mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 0 until o.int("setups")) {
      if (spark != null) spark.stop()
      Files.delete(store)
      val t0 = System.nanoTime()
      spark = Session.start(cores, scratch)
      spark.range(1).count() // the session is up once it has run a job
      setups += (System.nanoTime() - t0) / 1e9
    }
    res.e2e("setup_s") = setups.toSeq
    res.phase("setup")
    tr.attach(spark)

    val gc0 = Workload.gcMs
    val mStart = Clock.ms
    val m0 = System.nanoTime()
    val (coldS, appendS, stageS) = nights(spark, o, tr, res, work, crawlTier = true)
    val mEnd = Clock.ms
    val measured = Clock.secondsSince(m0)
    res.e2e("op_ms") = stageS.map(_ * 1000)
    res.e2e("pass_s") = Seq(coldS + appendS)
    res.e2e("disk_mb") = Files.bytes(store) / 1e6 + res.detail("nightly_disk_mb").asInstanceOf[Double]
    res.detail("measured_s") = measured
    if (tr.enabled) {
      Workload.derivedCacheLayers(spark, s"$work/corpus", res)
      Workload.sparkLayers(tr, res, mStart, mEnd, cores, measured, Workload.gcMs - gc0)
    }
    spark
  }

  def readExpected(path: String): Map[String, Long] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val text = try src.mkString finally src.close()
    "\"([a-z_]+\\.[a-z_]+)\"\\s*:\\s*([0-9]+)".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }
}

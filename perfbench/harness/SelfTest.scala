package perfbench

import org.apache.spark.sql.SparkSession

/** Checks of the harness's own pieces, printed as one JSON line:
  * the open-loop schedule keeps its rate under a slow sink and reports the
  * lateness, and the digest ignores row order (and sees a changed value).
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    // a sink that stalls 300 ms on every landing: the schedule must not slow
    val rate = 200.0
    val n = 300
    val landedAt = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val gen = new OpenLoop(rate, n, 20, (_, b) => { Thread.sleep(300); landedAt += ((b, Clock.ms)) })
    val t0 = Clock.ms
    gen.run(t0)
    val wallS = (Clock.ms - t0) / 1000.0
    out("open_loop_wall_s") = wallS
    out("open_loop_expected_s") = n / rate
    out("open_loop_landings") = landedAt.length
    out("open_loop_lateness_max_s") = gen.maxLatenessS
    // every landing carries all events due when it started: none is behind
    // the schedule by more than one stall plus one tick
    out("open_loop_ok") = wallS < n / rate + 0.7 && gen.maxLatenessS >= 0.29 &&
      gen.maxLatenessS < 0.7 && landedAt.last._1 == n &&
      landedAt.length >= (n / rate / 0.32).toInt

    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val rows = (1 to 500).map(i => (i.toLong, s"s$i", i * 0.1, Seq(i * 1.5, i / 3.0), Map(s"k$i" -> i)))
    val a = rows.toDF("id", "s", "d", "arr", "m")
    val b = scala.util.Random.shuffle(rows).toDF("id", "s", "d", "arr", "m").repartition(7)
    val c = rows.updated(10, rows(10).copy(_3 = 999.0)).toDF("id", "s", "d", "arr", "m")
    out("digest_a") = Digest.of(a)
    out("digest_shuffled") = Digest.of(b)
    out("digest_changed") = Digest.of(c)
    out("digest_ok") = Digest.of(a) == Digest.of(b) && Digest.of(a) != Digest.of(c)
    spark.stop()
    println(Json(out))
  }
}

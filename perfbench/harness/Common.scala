package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Minimal JSON rendering for the harness's result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}

/** Command-line options: `--key value` pairs. */
final case class Opts(m: Map[String, String]) {
  def apply(k: String): String =
    m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def double(k: String): Double = apply(k).toDouble
  def get(k: String): Option[String] = m.get(k)
}

object Opts {
  def parse(args: Array[String]): Opts =
    Opts(args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
}

/** The one Spark profile every workload runs under. */
object Session {
  def conf(cores: Int, scratch: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> "perfbench",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.shuffle.sort.bypassMergeThreshold" -> "0",
    "spark.local.dir" -> s"$scratch/spark-local",
    "spark.sql.warehouse.dir" -> s"$scratch/warehouse",
    "spark.driver.host" -> "127.0.0.1")

  def start(cores: Int, scratch: String): SparkSession = {
    val b = SparkSession.builder()
    conf(cores, scratch).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The effective (non-default) Spark conf, recorded with every result. */
  def effective(s: SparkSession): Map[String, String] =
    s.sparkContext.getConf.getAll.toMap
      .filter { case (k, _) => k.startsWith("spark.sql") || k.startsWith("spark.shuffle") ||
        k == "spark.master" || k == "spark.ui.enabled" || k == "spark.local.dir" ||
        k.startsWith("spark.driver.extraJava") || k == "spark.serializer" }
}

/** Order-independent digest of a DataFrame: row count plus the sum (as a
  * 38-digit decimal) of one 64-bit hash per row. Doubles are rendered to 9
  * significant digits first so partition-order float summation noise does
  * not change the digest; maps hash as sorted entry arrays.
  */
object Digest {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      when(c.isNull, lit(null).cast(StringType))
        .otherwise(format_string("%.9g", c.cast(DoubleType)))
    case ArrayType(e, _) => transform(c, x => norm(x, e))
    case st: StructType =>
      if (st.isEmpty) c
      else struct(st.fields.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case MapType(k, v, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), k).as("k"), norm(e.getField("value"), v).as("v"))))
    case _ => c
  }

  def of(df: DataFrame): String = {
    val cols = df.schema.fields.indices.map(i => s"c$i")
    val renamed = df.toDF(cols: _*)
    val hashed = renamed.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val h = if (hashed.isEmpty) lit(0L) else xxhash64(hashed: _*)
    val r = renamed.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val total = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    s"${r.getLong(0)}:$total"
  }
}

/** Peak resident set of this JVM, from /proc (0 where unavailable). */
object Mem {
  def peakRssMb: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: java.io.IOException => 0.0 }
}

object Files {
  def bytes(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(g => bytes(g.getPath)).sum
  }

  def delete(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(g => delete(g.getPath))
    f.delete()
  }

  def copyTree(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val d = java.nio.file.Paths.get(dst)
    val walk = java.nio.file.Files.walk(s)
    try walk.forEach { p =>
      val t = d.resolve(s.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }
}

/** Accumulates one run's output: raw samples for run.py to reduce, layer
  * figures, correctness checks and the failure count.
  */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, Any]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  var attempted = 0L
  var failed = 0L
  private val started = System.nanoTime()

  private val phases = mutable.LinkedHashMap.empty[String, Double]
  detail("phases_s") = phases

  /** Marks the end of a harness phase, in seconds since the harness started. */
  def phase(name: String): Unit = phases(name) = (System.nanoTime() - started) / 1e9

  def check(name: String, ok: Boolean, info: => String = ""): Unit = {
    checks += Map("name" -> name, "ok" -> ok, "info" -> (if (ok) "" else info))
    attempted += 1
    if (!ok) failed += 1
  }

  def write(path: String, settings: Map[String, Any]): Unit = {
    val body = Json(Map(
      "e2e" -> e2e, "detail" -> detail, "layers" -> layers, "checks" -> checks,
      "attempted" -> attempted, "failed" -> failed, "settings" -> settings))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), body.getBytes("UTF-8"))
  }
}

object Clock {
  /** Wall-clock milliseconds with sub-millisecond resolution. */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

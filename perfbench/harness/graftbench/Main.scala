package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM. `perfbench/run.py` generates the inputs, starts
  * this main, then checks and summarises the raw record it writes:
  *
  * {{{
  * graftbench.Main --workload olap --seed 1 --trace 0 --work <dir>
  *   [--data <dir> --queries a,b,c --passes 2]
  *   [--cdc <dir> --rate 2000 --warm-drains 1 --partitions 2 --canal-batch 50]
  * }}}
  *
  * The record (`<work>/record.json`) holds set-up timings, every timed
  * sample, failures, and (traced runs) spans plus per-span Spark counters.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val mainStart = System.currentTimeMillis()
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val trace = a("trace") == "1"
    val work = a("work")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val listener = new SpanListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(trace, spark.sparkContext)
    val common = Map[String, Any]("workload" -> workload, "seed" -> a("seed").toLong,
      "trace" -> trace, "main_start_epoch_ms" -> mainStart, "session_s" -> sessionS)
    val body: Map[String, Any] = try workload match {
      case "cdc_stream" => Cdc.run(spark, a, tracer)
      case "olap" => Olap.run(spark, a, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      if (trace) org.apache.spark.BusDrain(spark.sparkContext)
    }
    val traced: Map[String, Any] =
      if (!trace) Map.empty
      else Map("spans" -> tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end) ++ s.attrs),
        "span_counters" -> listener.snapshot.map { case (k, v) => k.toString -> v })
    val record = common ++ body ++ traced ++ Map("peak_rss_mb" -> peakRssMb())
    Files.writeString(Paths.get(s"$work/record.json"), Json(record))
    spark.stop()
  }

  /** JVM resident-set high-water mark (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Minimal JSON writer for the record: maps, sequences, numbers, strings. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case arr: Array[_] => apply(arr.toSeq)
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

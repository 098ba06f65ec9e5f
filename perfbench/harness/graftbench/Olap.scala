package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.sources.Tables

/** Closed loop, one client: passes over a pinned query list, each query
  * built by `SparkEntry.queries(name)` and drained through the `noop`
  * sink. The seed permutes the order within each timed pass.
  *
  * Set-up: one untimed warm pass that writes each result as parquet for
  * the oracle check. Timed: `--passes` passes, a fixed count so that
  * every run measures the same work. A query that throws is recorded as
  * failed, with its error and no time. */
object Olap {
  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings")

  /** The ten harness tables through `graft.sources.Tables`, as a pass opens them. */
  def openTables(spark: SparkSession, dir: String): Seq[DataFrame] =
    TableNames.map(t => Tables.table(spark, dir, t)) :+ Tables.events(spark, dir)

  def run(spark: SparkSession, a: Map[String, String], tr: Tracer): Map[String, Any] = {
    val dir = a("data")
    val work = a("work")
    val names = a("queries").split(',').toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(",")}")

    val warmFailures = ArrayBuffer.empty[Map[String, Any]]
    val tw = System.nanoTime()
    names.foreach { q =>
      try SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$work/out/$q")
      catch { case e: Throwable => warmFailures += Map("query" -> q, "error" -> msg(e)) }
    }
    val warmS = (System.nanoTime() - tw) / 1e9

    val rng = new java.util.Random(a("seed").toLong)
    val samples = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val tStart = System.nanoTime()
    for (pass <- 0 until a("passes").toInt) {
      val order = shuffled(names, rng)
      val passStart = System.nanoTime()
      tr.span("pass", attrs = Map("pass" -> pass)) {
        tr.span("sources.open") { if (tr.enabled) openTables(spark, dir) }
        order.foreach { q => samples += one(spark, dir, q, pass, tr) }
      }
      passes += Map("pass" -> pass, "wall_s" -> (System.nanoTime() - passStart) / 1e9,
        "order" -> order)
    }
    val timedS = (System.nanoTime() - tStart) / 1e9
    Map("warm_s" -> warmS, "warm_failures" -> warmFailures.toList,
      "timed_s" -> timedS,
      "passes" -> passes.toList, "samples" -> samples.toList,
      "oracle_sql" -> names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
  }

  /** One query: build, (traced) plan, then execute through `noop`. */
  private def one(spark: SparkSession, dir: String, q: String, pass: Int,
                  tr: Tracer): Map[String, Any] = {
    val t0 = System.nanoTime()
    try {
      tr.span("query", attrs = Map("query" -> q, "pass" -> pass)) {
        val df = tr.span("build", attrs = Map("query" -> q)) { SparkEntry.queries(q)(spark, dir) }
        tr.span("plan", attrs = Map("query" -> q)) { if (tr.enabled) df.queryExecution.executedPlan }
        tr.span("exec", attrs = Map("query" -> q)) {
          df.write.format("noop").mode("overwrite").save()
        }
      }
      Map("query" -> q, "pass" -> pass, "ok" -> true, "s" -> (System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Throwable => Map("query" -> q, "pass" -> pass, "ok" -> false, "error" -> msg(e))
    }
  }

  private def shuffled(xs: Seq[String], rng: java.util.Random): Seq[String] = {
    val arr = xs.toArray
    for (i <- arr.indices.reverse.dropRight(1)) {
      val j = rng.nextInt(i + 1)
      val t = arr(i); arr(i) = arr(j); arr(j) = t
    }
    arr.toSeq
  }

  def msg(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).take(300)
}

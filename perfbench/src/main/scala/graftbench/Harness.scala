package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

import graft.{SparkEntry, Tables}

/** One benchmark run in one JVM: set up a session, prime every query of
  * the workload once (writing its output for the oracle check), time a
  * closed loop of whole passes, then dump raw records as JSON for
  * `perfbench/run.py`, which turns them into metrics.
  *
  * Arguments are `key=value`: `queries` (comma-separated), `sf` (table
  * directory), `out` (record directory), `seed`, `passes`, `cores` and
  * `trace` (0 or 1).
  *
  * Untraced runs register no listener, so their timings carry no
  * tracing cost. A traced run traces every other execution of each
  * query (traced over untraced time is `trace.overhead`) and records
  * spans for pass → query → phase → job → stage.
  */
object Harness extends AdaptiveSparkPlanHelper {
  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val queries = a("queries").split(',').toSeq
    val sf = a("sf")
    val out = new File(a("out"))
    val seed = a("seed").toLong
    val passes = a("passes").toInt
    val cores = a("cores").toInt
    val trace = a("trace") == "1"
    val clock = new Clock
    val rec = new Json.Obj

    // set-up: the session is started three times and the last one kept;
    // the first start pays class loading, the others are the steady cost
    val sessionStarts = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 0 until 3) {
      if (spark != null) spark.stop()
      val t0 = clock.now
      spark = Session.start(cores)
      sessionStarts += clock.now - t0
    }
    val sc = spark.sparkContext
    val builders = queries.map(q => q -> SparkEntry.queries(q)).toMap

    // prime: one untimed execution of each query, written out whole so
    // the oracle check compares full outputs, not just row counts
    val check = new File(out, "check")
    val prime = ArrayBuffer.empty[(String, Double, String)]
    for (q <- queries) {
      val t0 = clock.now
      val err = try {
        builders(q)(spark, sf).write.parquet(new File(check, q).getPath); ""
      } catch { case e: Throwable => oneLine(e) }
      prime += ((q, clock.now - t0, err))
    }

    val execs = new Json.Arr
    val tracer = if (trace) Some(new Tracer(clock, spark, Seq(
      new File(sys.props("java.io.tmpdir")), new File(sc.getConf.get("spark.local.dir")))))
      else None

    // Tables probe: per-call cost of the table entry point on the
    // workload's tables, which the oracle SQL names
    val oracle = SparkEntry.oracleSql
    val tables = Tables.names.filter(t => queries.exists(q =>
      oracle.get(q).exists(s"\\b$t\\b".r.findFirstIn(_).isDefined)))
    val tableLoads = tracer.map(_.tableLoads(sf, tables, rounds = 3)).getOrElse(Nil)

    // timed region: whole passes, each in its own seeded order. A traced
    // run traces every other execution of each query, alternating which
    // pass traces it, so traced and untraced samples meet the same
    // warm-up; their ratio is the tracing overhead.
    val t0Timed = clock.now
    for (p <- 0 until passes) {
      val order = new Random(seed * 1000003L + p).shuffle(queries)
      val passSpan = tracer.map(_.open("pass", p.toString, None))
      for (q <- order) {
        val traced = tracer.isDefined && (queries.indexOf(q) + p) % 2 == 1
        val e = new Json.Obj
        e("query") = q; e("pass") = p; e("traced") = traced
        val t0 = clock.now
        try {
          val rows = if (traced) tracer.get.execute(q, passSpan.get, e) {
            builders(q)(spark, sf)
          } else builders(q)(spark, sf).queryExecution.toRdd.count()
          e("rows") = rows
        } catch { case ex: Throwable => e("error") = oneLine(ex) }
        e("t0") = t0; e("t1") = clock.now
        execs += e
      }
      for (t <- tracer; id <- passSpan) t.close(id)
    }
    val timedS = clock.now - t0Timed

    // retained memory: live heap after full collections, with the
    // context cleaner given time to drop unreferenced blocks in between
    System.gc(); Thread.sleep(300); System.gc()
    val rt = Runtime.getRuntime
    val heapUsed = rt.totalMemory - rt.freeMemory
    val offHeapStorage = sc.statusTracker.getExecutorInfos.map(_.usedOffHeapStorageMemory).sum

    // oracle SQL for this workload, parameters substituted, as graft.Verify does
    val sub = queries.filter(oracle.contains)
    val params =
      if (sub.exists(q => oracle(q).contains("{{"))) SparkEntry.oracleParams(spark, sf)
      else Map.empty[String, String]
    val oj = new Json.Obj
    for (q <- sub) oj(q) = params.foldLeft(oracle(q)) { case (s, (k, v)) => s.replace(s"{{$k}}", v) }
    Files.writeString(Paths.get(check.getPath, "oracle_sql.json"), oj.render)

    rec("session_start_s") = Json.Arr(sessionStarts.toSeq: _*)
    rec("prime") = Json.Arr(prime.toSeq.map { case (q, s, e) =>
      Json.Obj("query" -> q, "s" -> s, "error" -> e) }: _*)
    rec("timed_s") = timedS
    rec("heap_used_mb") = heapUsed / 1e6
    rec("offheap_storage_mb") = offHeapStorage / 1e6
    rec("cores") = cores
    rec("table_loads") = Json.Arr(tableLoads.toSeq.map { case (t, s, j) =>
      Json.Obj("table" -> t, "s" -> s, "jobs" -> j) }: _*)
    rec("executions") = execs
    tracer.foreach { t =>
      rec("jobs") = t.recorder.jobsJson
      rec("stages") = t.recorder.stagesJson
      rec("spans") = t.spans
    }
    Files.writeString(Paths.get(out.getPath, "raw.json"), rec.render)
    spark.stop()
  }

  /** Exchanges in the final physical plan, through adaptive query
    * stages and subqueries. */
  def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    collectWithSubqueries(df.queryExecution.executedPlan) { case e: Exchange => e }.size

  def oneLine(e: Throwable): String =
    e.toString.take(300).map(c => if (c < ' ') ' ' else c)
}

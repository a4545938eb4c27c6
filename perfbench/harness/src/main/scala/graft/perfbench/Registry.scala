package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The registry workloads: a slice of `SparkEntry.queries`, run closed
  * loop (one query at a time) in the order the caller gives: a cold
  * round, then warm rounds until the time budget is spent. Each
  * attempt times the `queries(name)(…)` call (build) and the noop write
  * (exec) separately. An untimed pass follows: every query's result is
  * written to parquet for the DuckDB oracle check, and the live heap is
  * taken after it.
  */
object Registry {

  /** The prestages graft.Bench runs for the slice's queries, each with
    * the registry queries that read its artifact. A prestage runs in
    * set-up when a selected query consumes it (the fixture exists before
    * any timed attempt starts, as in Bench). A query that needs another
    * prestage brings its entry along when it joins the slice.
    */
  private val prestages: Seq[(String, Set[String], (SparkSession, String) => Any)] = Seq(
    ("SparkEntry.stagedUserPartEvents", Set("q253_stream_funnel"),
      (s, d) => SparkEntry.stagedUserPartEvents(s, d)))

  def wanted(names: Seq[String]): Seq[(String, (SparkSession, String) => Any)] =
    prestages.collect { case (label, users, fn) if names.exists(users) => (label, fn) }

  final case class Attempt(query: String, round: Int, traced: Boolean,
      buildS: Double, execS: Double, error: String)

  def run(ctx: Ctx, names: Seq[String]): Map[String, Any] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(",")}")
    val pre = wanted(names)
    val (spark, dir, setups) = ctx.setupReps { (s, d, _) =>
      val each = pre.map { case (label, fn) =>
        val t0 = Clock.nowNs
        ctx.tracer.span(label, "prestage", "setup")(fn(s, d))
        label -> Clock.secondsSince(t0)
      }
      Map("prestage_s" -> each.map(_._2).sum, "prestage_calls" -> pre.size,
        "prestage_each" -> each.toMap)
    }

    // Round 0 is the cold round (first attempts). Four warm rounds
    // follow, more while `seconds` of warm-round time have not passed
    // (at most eight). A traced run takes exactly four rounds: cold,
    // warm, traced (listeners attached), warm again; the tracing
    // overhead is the traced round against the mean of the two around it.
    val attempts = mutable.ArrayBuffer.empty[Attempt]
    val windows = mutable.ArrayBuffer.empty[(Long, Long)]
    val gate = mutable.LinkedHashMap.empty[String, Map[String, String]]
    var warmStart = 0L
    var round = 0
    while (if (ctx.trace) round < 4
           else round < 5 || (round < 9 && Clock.secondsSince(warmStart) < ctx.seconds)) {
      val traced = ctx.trace && round == 2
      if (round == 1) warmStart = Clock.nowNs
      if (traced) ctx.layers.attach(spark)
      names.foreach { q =>
        val id = s"$q#$round"
        spark.sparkContext.setJobGroup(id, id, interruptOnCancel = false)
        val w0 = Clock.nowNs
        var buildS, execS = 0.0
        val err = try {
          ctx.tracer.span(q, "attempt", id) {
            val t0 = Clock.nowNs
            val df = ctx.tracer.span("build", "build", id)(SparkEntry.queries(q)(spark, dir))
            buildS = Clock.secondsSince(t0)
            val t1 = Clock.nowNs
            ctx.tracer.span("exec", "exec", id)(
              df.write.format("noop").mode("overwrite").save())
            execS = Clock.secondsSince(t1)
          }
          null
        } catch { case e: Throwable => Ctx.describe(e) }
        finally spark.sparkContext.clearJobGroup()
        if (traced) windows += ((w0, Clock.nowNs))
        attempts += Attempt(q, round, traced, buildS, execS, err)
      }
      if (traced) ctx.layers.detach(spark)
      round += 1
    }

    // The untimed pass: each query's result goes to parquet for the
    // oracle check. It runs in a fixed order, so the live heap taken
    // after it (everything the slice caches, plus what the last query
    // left behind) does not hang on the seed's order.
    names.sorted.foreach { q =>
      val out = s"${ctx.work}/out/$q"
      spark.sparkContext.setJobGroup(s"$q#gate", s"$q#gate", interruptOnCancel = false)
      val err = try {
        SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(out)
        null
      } catch { case e: Throwable => Ctx.describe(e) }
      finally spark.sparkContext.clearJobGroup()
      gate(q) = Map("path" -> out, "error" -> err)
    }
    val liveHeap = Ctx.liveHeapMb()

    val oracle = SparkEntry.oracleSql
    val oracles = names.flatMap(q => oracle.get(q).map(q -> _)).toMap

    val driverOnly = Layers.uncovered(windows.toSeq, ctx.layers.jobIntervals)
    Map(
      "setup" -> setups,
      "order" -> names,
      "prestages" -> pre.map(_._1),
      "attempts" -> attempts.map(a => Map(
        "query" -> a.query, "round" -> a.round, "traced" -> a.traced,
        "build_s" -> a.buildS, "exec_s" -> a.execS, "error" -> a.error)),
      "gate" -> gate,
      "oracle" -> oracles,
      "layers" -> ctx.layers.snapshot,
      "driver_only_s" -> driverOnly / 1e9,
      "live_heap_mb" -> liveHeap)
  }
}

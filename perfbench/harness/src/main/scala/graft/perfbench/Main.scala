package graft.perfbench

import graft.{Sessions, Tables}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{max, sum}

/** Shared run context: arguments, the tracer and listener collector,
  * and the repeated set-up every workload performs.
  */
final class Ctx(val work: String, val data: String, val cpus: Int,
    val seconds: Int, val trace: Boolean, val reps: Int) {
  val tracer = new Tracer(trace)
  val layers = new Layers(tracer)

  def session(master: String, partitions: Int): SparkSession = {
    val s = Sessions.builder(master, partitions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Sets up `reps` times and keeps the last session. Each repetition
    * creates a fresh session and reads the tables through its own alias
    * of the data directory: graft caches staged artifacts per directory
    * path, so every repetition pays the full set-up. `prep` is the
    * workload's own set-up (prestage, staging), given the session, the
    * data alias and the repetition; its map joins the record.
    */
  def setupReps(prep: (SparkSession, String, Int) => Map[String, Any])
      : (SparkSession, String, Seq[Map[String, Any]]) = {
    var last: (SparkSession, String) = null
    val records = (0 until reps).map { rep =>
      if (last != null) last._1.stop()
      val alias = Paths.get(work, s"data_rep$rep")
      Files.deleteIfExists(alias)
      Files.createSymbolicLink(alias, Paths.get(data).toAbsolutePath)
      tracer.span(s"setup#$rep", "setup", "setup") {
        val t0 = Clock.nowNs
        val s = tracer.span("session", "session", "setup")(
          Sessions.builder(s"local[$cpus]", cpus).getOrCreate())
        val sessionS = Clock.secondsSince(t0)
        s.sparkContext.setLogLevel("WARN")
        tracer.span("warm", "warm", "setup")(Ctx.warm(s, alias.toString))
        val extra = prep(s, alias.toString, rep)
        last = (s, alias.toString)
        Map[String, Any]("rep" -> rep, "setup_s" -> Clock.secondsSince(t0),
          "session_s" -> sessionS) ++ extra
      }
    }
    // a full collection before the timed phases, so that every run
    // measures from the same heap state: the set-up's live set only
    val settled = Ctx.liveHeapMb()
    (last._1, last._2, records.init :+ (records.last + ("settled_heap_mb" -> settled)))
  }
}

object Ctx {
  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}".take(600)

  /** Heap in use right after a full collection, in MB: the live set the
    * program retains at this point (`System.gc()` is a full,
    * stop-the-world collection under G1). Collections repeat, a moment
    * apart, until the figure stops falling: Spark's cleaner frees
    * broadcast and shuffle state only after a collection has found it
    * unreachable. Taken outside timed phases.
    */
  def liveHeapMb(): Double = {
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = used()
    var next = last
    var rounds = 0
    do {
      last = next
      Thread.sleep(100)
      next = used()
      rounds += 1
    } while (next < last - 1.0 && rounds < 5)
    next
  }

  /** Session warm-up: class loading, codegen for scan, exchange, join
    * and aggregate, and file-system metadata for the tables.
    */
  def warm(s: SparkSession, dir: String): Unit = {
    s.range(1000000L).selectExpr("sum(id)").collect()
    Tables.load(s, dir, "customer").limit(1).collect()
    val a = s.range(200000L).selectExpr("id % 1000 AS k", "id AS v")
    val b = s.range(1000L).selectExpr("id AS k", "id * 2 AS w")
    a.join(b, "k").groupBy("k").agg(sum("v"), max("w"))
      .write.format("noop").mode("overwrite").save()
  }
}

/** Entry point. Writes one raw-measurement JSON file (`--out`) that
  * perfbench/run.py turns into metrics; the run's spans go next to it.
  *
  *   --workload denorm_stream|registry
  *   --work DIR        scratch directory for this run
  *   --data DIR        the parquet tables
  *   --cpus N          local[N]
  *   --seconds S       measured time budget
  *   --trace 0|1       attach listeners and record spans
  *   --reps N          set-up repetitions
  *   --queries a,b,…   the registry slice, in run order
  *   --input DIR       denorm_stream inputs (perfbench/gen.py)
  *   --tick-ms, --max-files, --state-partitions, --drains   denorm_stream knobs
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(args("work"), args("data"), args("cpus").toInt,
      args("seconds").toInt, args("trace") == "1", args.getOrElse("reps", "3").toInt)
    val t0 = Clock.nowNs
    val result = ctx.tracer.span(args("workload"), "workload", "workload") {
      args("workload") match {
        case "denorm_stream" =>
          DenormStream.run(ctx, DenormStream.Conf(args("input"),
            args("tick-ms").toInt, args("max-files").toInt, args("state-partitions").toInt,
            args("drains").toInt))
        case "registry" =>
          Registry.run(ctx, args("queries").split(",").toSeq.filter(_.nonEmpty))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }
    val wall = Clock.secondsSince(t0)
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    if (ctx.trace) Out.write(s"${ctx.work}/spans.json", ctx.tracer.all.map(s => Map(
      "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "attempt" -> s.attempt,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "parent" -> s.parent)))
    Out.write(args("out"), result ++ Map("wall_s" -> wall,
      "spark_version" -> org.apache.spark.SPARK_VERSION))
  }
}

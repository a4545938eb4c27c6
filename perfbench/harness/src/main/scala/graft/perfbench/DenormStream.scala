package graft.perfbench

import graft.streaming.{JoinedRecord, StreamDenormalize}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.locks.LockSupport
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The paper's pipeline as one long-running stream: two keyed upsert
  * topics (events as lefts, customer as rights) joined many-to-one by
  * `StreamDenormalize.indexStream` → `joined(…, "inner")`, feeding a
  * sink owned by the benchmark that stamps each emission.
  *
  * Topics are directories of JSON-lines files read by file streaming
  * sources (the staged-topic stand-in every graft stream uses). The
  * inputs come pre-rendered from perfbench/gen.py:
  *   - `backlog/{rights,lefts}/NNNNN.json`: the phase-1 backlog (the
  *     initial customer load, then replayed events);
  *   - `schedule.tsv`: phase-2 rows as `offset_ns TAB L|R TAB json`,
  *     where `json` lacks its closing brace; the generator appends the
  *     row's due stamp (`due_ns`) when it sends it.
  *
  * Phase 1 starts a stream on empty topics, then moves the whole
  * backlog in and times its drain: first cold, then warm on `drains`
  * fresh streams, the last of which goes on to phase 2. Phase 2
  * offers the schedule open loop: a single generator thread wakes every
  * tick and sends every row that has come due, stamped with the time it
  * was due (not the time it was sent), so a slow generator or a slow
  * stream both show as latency.
  */
object DenormStream {

  val leftSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("tie", LongType), StructField("due_ns", LongType)))

  val rightSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType),
    StructField("tie", LongType), StructField("due_ns", LongType)))

  final case class Conf(input: String, tickMs: Int, maxFilesPerTrigger: Int,
      statePartitions: Int, drains: Int)

  /** Emission sink: per micro-batch, collects the batch, stamps it, and
    * keeps the latest emission per out_key (the compacted output topic).
    */
  final class Sink {
    val compacted = mutable.HashMap.empty[String, (Long, Long, String, String)]
    val samples = mutable.ArrayBuffer.empty[(Long, Long)] // (due, emitted)
    val batches = mutable.ArrayBuffer.empty[(Long, Long, Int)] // (id, emitted, rows)

    def accept(ds: Dataset[JoinedRecord], batchId: Long): Unit = {
      val rows = ds.collect()
      val now = Clock.nowNs
      synchronized {
        batches += ((batchId, now, rows.length))
        rows.foreach { r =>
          samples += ((r.seq, now))
          val prev = compacted.get(r.outKey)
          if (prev.forall { case (b, s, _, _) => b < batchId || (b == batchId && s < r.seq) })
            compacted(r.outKey) = (batchId, r.seq, r.left, r.right)
        }
      }
    }
  }

  /** One running stream over a pair of topic directories. */
  final class Running(spark: SparkSession, root: String, conf: Conf) {
    val leftsDir: String = s"$root/topics/lefts"
    val rightsDir: String = s"$root/topics/rights"
    val sink = new Sink
    Files.createDirectories(Paths.get(leftsDir))
    Files.createDirectories(Paths.get(rightsDir))
    private val startNs = Clock.nowNs
    private val query = {
      spark.conf.set("spark.sql.shuffle.partitions", conf.statePartitions.toString)
      def topic(schema: StructType, dir: String) = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", conf.maxFilesPerTrigger.toString).json(dir)
      val lefts = topic(leftSchema, leftsDir)
      val rights = topic(rightSchema, rightsDir)
      val index = StreamDenormalize.indexStream(
        lefts, col("event_id"), col("user_id"), col("due_ns"),
        rights, col("c_custkey"), col("due_ns"),
        leftTie = col("tie"), rightTie = col("tie"))
      val write: (Dataset[JoinedRecord], Long) => Unit = sink.accept
      StreamDenormalize.joined(index, "inner").writeStream
        .foreachBatch(write)
        .option("checkpointLocation", s"$root/checkpoint")
        .start()
    }
    /** Blocks until every file now in the topics is processed. */
    def drain(): Unit = query.processAllAvailable()
    val startedS: Double = { drain(); Clock.secondsSince(startNs) }
    def stop(): Unit = { query.stop(); PerfbenchBridge.unloadStateStores() }
  }

  /** Copies the phase-1 backlog files to `dst/{rights,lefts}` outside
    * the topics; returns (files, rows).
    */
  def stageBacklog(input: String, dst: String): (Int, Long) = {
    var files, rows = 0L
    for (side <- Seq("rights", "lefts")) {
      val to = Paths.get(dst, side)
      Files.createDirectories(to)
      listSorted(Paths.get(input, "backlog", side)).foreach { f =>
        Files.copy(f, to.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
        files += 1
        rows += Files.readAllLines(f).size
      }
    }
    (files.toInt, rows)
  }

  /** Moves a staged backlog into the topics in one step: rights first
    * (oldest modification times, so the sources pick them up first),
    * each file atomically.
    */
  def release(staged: String, run: Running): Unit = {
    val base = System.currentTimeMillis() - 600000L
    var i = 0
    for ((side, dir) <- Seq("rights" -> run.rightsDir, "lefts" -> run.leftsDir)) {
      listSorted(Paths.get(staged, side)).foreach { f =>
        f.toFile.setLastModified(base + i * 1000L)
        i += 1
        Files.move(f, Paths.get(dir, f.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
      }
    }
  }

  private def listSorted(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".json")).toSeq.sortBy(_.toString)
    finally s.close()
  }

  final case class Row(offsetNs: Long, left: Boolean, prefix: String)

  def readSchedule(input: String): Array[Row] =
    Files.readAllLines(Paths.get(input, "schedule.tsv")).asScala.iterator
      .filter(_.nonEmpty).map { line =>
        val Array(o, side, json) = line.split("\t", 3)
        Row(o.toLong, side == "L", json)
      }.toArray

  /** The open-loop generator: one thread, one file per topic per tick,
    * each row stamped with its due time `t0 + offset`.
    */
  final class Generator(rows: Array[Row], run: Running, t0Ns: Long, tickNs: Long)
      extends Thread("perfbench-generator") {
    // (sent, first due, rows) per tick that sent anything
    val sends = mutable.ArrayBuffer.empty[(Long, Long, Int)]
    @volatile var failure: Throwable = null
    private var fileNo = 0

    // one file per topic per tick, empty or not, so the two sources
    // advance in step: a micro-batch never pairs a left with rights
    // from more than max_files ticks later (the ordering gap in gen.py
    // relies on that)
    private def send(dir: String, lines: Seq[String]): Unit = {
      val name = f"p2-$fileNo%06d.json"
      val tmp = Paths.get(dir, "." + name)
      Files.write(tmp, lines.map(_ + "\n").mkString.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
    }

    override def run(): Unit = try {
      var i = 0
      var tick = 0L
      while (i < rows.length) {
        tick += 1
        // tick k carries the rows due before t0 + k × tick: one tick of
        // due times per file however late the thread wakes
        val end = t0Ns + tick * tickNs
        var now = Clock.nowNs
        while (now < end) { LockSupport.parkNanos(end - now); now = Clock.nowNs }
        val from = i
        while (i < rows.length && t0Ns + rows(i).offsetNs < end) i += 1
        val due = rows.slice(from, i).map(r => (r, t0Ns + r.offsetNs))
        def lines(left: Boolean) = due.collect {
          case (r, d) if r.left == left => s"${r.prefix},\"due_ns\":$d}"
        }.toSeq
        fileNo += 1
        send(run.rightsDir, lines(left = false))
        send(run.leftsDir, lines(left = true))
        if (i > from) sends += ((now, t0Ns + rows(from).offsetNs, i - from))
      }
    } catch { case e: Throwable => failure = e }
  }

  def run(ctx: Ctx, conf: Conf): Map[String, Any] = {
    val schedule = readSchedule(conf.input)
    val (spark, _, setups) = ctx.setupReps { (_, _, rep) =>
      val dst = s"${ctx.work}/backlog_rep$rep"
      val (files, rows) = ctx.tracer.span("stage_backlog", "prestage", "setup")(
        stageBacklog(conf.input, dst))
      Map("staged" -> dst, "backlog_files" -> files, "backlog_rows" -> rows)
    }
    val staged = setups.last("staged").toString
    val backlogRows = setups.last("backlog_rows").asInstanceOf[Long]
    def restaged(tag: String): String = {
      val dst = s"${ctx.work}/backlog_$tag"
      stageBacklog(conf.input, dst)
      dst
    }

    // the first drain after set-up runs cold, on a throwaway stream: the
    // one-shot figure. It leaves the code paths (JSON source, join core,
    // state store) warm for the drains that follow; a cold drain ran at
    // about half the warm rate, its batches speeding up as it went.
    val first = ctx.tracer.span("first_drain", "phase", "denorm")(
      measure(ctx, spark, conf, s"${ctx.work}/stream_first", restaged("first"), backlogRows,
        None))
    // warm drains, each on a fresh stream; the last one goes on to phase 2
    // and is the one traced
    val drains = (1 until conf.drains).map { i =>
      measure(ctx, spark, conf, s"${ctx.work}/stream_d$i", restaged(s"d$i"), backlogRows, None)
    }
    if (ctx.trace) ctx.layers.attach(spark)
    val main = measure(ctx, spark, conf, s"${ctx.work}/stream", staged, backlogRows,
      Some(schedule))
    if (ctx.trace) ctx.layers.detach(spark)
    val layers = ctx.layers.snapshot // the phase-2 stream only

    val extra = mutable.LinkedHashMap.empty[String, Any]
    if (ctx.trace) {
      // tracing overhead: the same warm drain, untraced then traced
      def redrain(tag: String): Double =
        measure(ctx, spark, conf, s"${ctx.work}/stream_$tag", restaged(tag), backlogRows,
          None)("drain_s").asInstanceOf[Double]
      extra("redrain_untraced_s") = redrain("plain")
      ctx.layers.attach(spark)
      extra("redrain_traced_s") = redrain("traced")
      ctx.layers.detach(spark)
      // single-core baseline: the same backlog drained at local[1]
      spark.stop()
      val one = ctx.session("local[1]", 1)
      extra("local1_drain_s") = measure(ctx, one, conf, s"${ctx.work}/stream_local1",
        restaged("local1"), backlogRows, None)("drain_s")
    }
    val drainKeys = Set("drain_s", "error")
    Map("setup" -> setups, "backlog_rows" -> backlogRows, "layers" -> layers,
      "first_drain" -> first.filter { case (k, _) => drainKeys(k) },
      "drains" -> (drains :+ main).map(_.filter { case (k, _) => drainKeys(k) })) ++
      main ++ extra
  }

  /** Start → drain the backlog → (optionally) offer the schedule → stop. */
  private def measure(ctx: Ctx, spark: SparkSession, conf: Conf, root: String,
      staged: String, backlogRows: Long, schedule: Option[Array[Row]]): Map[String, Any] = {
    val tr = ctx.tracer
    val run = tr.span("start", "phase", "denorm")(new Running(spark, root, conf))
    val out = mutable.LinkedHashMap.empty[String, Any]
    val windows = mutable.ArrayBuffer.empty[(Long, Long)]
    try {
      out("start_s") = run.startedS
      val d0 = Clock.nowNs
      tr.span("drain", "phase", "denorm") {
        release(staged, run)
        run.drain()
      }
      out("drain_s") = Clock.secondsSince(d0)
      windows += ((d0, Clock.nowNs))
      schedule.foreach { rows =>
        val t0 = Clock.nowNs + 100000000L
        val gen = new Generator(rows, run, t0, conf.tickMs * 1000000L)
        tr.span("offer", "phase", "denorm") {
          gen.start()
          gen.join()
          run.drain()
        }
        windows += ((t0, Clock.nowNs))
        if (gen.failure != null) throw gen.failure
        out("phase2_t0_ns") = t0
        out("offer_s") = Clock.secondsSince(t0)
        out("sends") = gen.sends
        // the live set at its largest: every row offered, state loaded
        out("live_heap_mb") = Ctx.liveHeapMb()
        dump(ctx.work, run.sink)
      }
    } catch { case e: Throwable => out("error") = Ctx.describe(e) }
    finally tr.span("stop", "phase", "denorm")(run.stop())
    out("topics") = s"$root/topics"
    out("emitted_rows") = run.sink.samples.size
    out("batches") = run.sink.batches.size
    out("driver_only_s") = Layers.uncovered(windows.toSeq, ctx.layers.jobIntervals) / 1e9
    out.toMap
  }

  /** Writes the sink's samples, batches and compacted output for the
    * Python side (latency arithmetic and the correctness oracle).
    */
  private def dump(work: String, sink: Sink): Unit = sink.synchronized {
    Out.writeText(s"$work/denorm_out/samples.tsv",
      sink.samples.iterator.map { case (d, e) => s"$d\t$e" }.mkString("", "\n", "\n"))
    Out.writeText(s"$work/denorm_out/batches.tsv",
      sink.batches.iterator.map { case (b, e, n) => s"$b\t$e\t$n" }.mkString("", "\n", "\n"))
    Out.writeText(s"$work/denorm_out/compacted.jsonl",
      sink.compacted.iterator.map { case (k, (_, _, l, r)) =>
        Out.render(Map("k" -> k, "l" -> l, "r" -> r))
      }.mkString("", "\n", "\n"))
  }
}

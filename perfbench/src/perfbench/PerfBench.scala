package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.SparkEntry
import graft.operators.Similarity
import graft.sources.{MqBroker, MqSource}
import graft.streaming.Streams

/** The benchmark's JVM side. It drives the engine only through its public
  * entry points (`MqBroker`, the MQ DSv2 source and sink, `Streams`,
  * `SparkEntry.queries`, the session-memo builders), times each workload
  * from outside, checks what the engine produced, and writes one raw
  * result file that `perfbench/run.py` turns into the benchmark's line.
  *
  * Usage: PerfBench --workload W --seed N --seconds S --trace 0|1
  *          --sf FIXTURE_DIR --out RUN_DIR --cores C [--corrupt 1]
  *          [--p key=value ...]
  */
object PerfBench {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        sf: String, out: String, cores: Int, corrupt: Boolean,
                        p: Map[String, String]) {
    def int(k: String): Int = param(k).toInt
    def dbl(k: String): Double = param(k).toDouble
    def list(k: String): Seq[String] = param(k).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    private def param(k: String): String =
      p.getOrElse(k, throw new IllegalArgumentException(s"missing workload parameter '$k'"))
  }

  def parse(argv: Array[String]): Args = {
    val kv = mutable.Map.empty[String, String]
    val params = mutable.Map.empty[String, String]
    argv.grouped(2).foreach {
      case Array("--p", v) =>
        val i = v.indexOf('=')
        require(i > 0, s"--p expects key=value, got '$v'")
        params(v.take(i)) = v.drop(i + 1)
      case Array(k, v) if k.startsWith("--") => kv(k.drop(2)) = v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("sf"), req("out"), req("cores").toInt, kv.get("corrupt").contains("1"), params.toMap)
  }

  // ---------- measurement helpers ----------

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS(): Double = osBean.getProcessCpuTime / 1e9
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Retained heap: used bytes after full collections. */
  def heapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def loadAvg1m(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  // one epoch-ms clock with sub-ms resolution, comparable with the
  // epoch-ms stamps Spark puts on progress records and listener events
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
  def nanoToMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  /** Linear-interpolated quantile of unsorted values. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Quantile of (value, weight) samples: the smallest value whose
    * cumulative weight reaches q of the total.
    */
  def weightedQuantile(xs: Seq[(Double, Long)], q: Double): Double = {
    val s = xs.filter(_._2 > 0).sortBy(_._1)
    val total = s.map(_._2).sum.toDouble
    var acc = 0.0
    s.find { case (_, w) => acc += w; acc >= q * total }.map(_._1).getOrElse(Double.NaN)
  }

  final class Result {
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, Any]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    var spans: Seq[Map[String, Any]] = Nil
    var setupS = 0.0
    var attempted = 0L
    var failed = 0L
    def check(name: String, bad: Long, detail: String): Unit = {
      checks += Map("name" -> name, "ok" -> (bad == 0), "bad" -> bad, "detail" -> detail)
      failed += bad
    }
  }

  // ---------- entry ----------

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val load0 = loadAvg1m()
    val spark = graft.Engine.session("perfbench", a.cores)
    // keep every micro-batch's progress record on the query handle: the
    // untraced run reads latency and throughput from them, not listeners
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000000")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (a.trace) Some(new Tracer(spark, a.cores)) else None
    val r = new Result
    val cpu0 = cpuS()
    a.workload match {
      case "mq_steady"      => mqSteady(spark, a, r, tracer)
      case "mq_catchup"     => mqCatchup(spark, a, r, tracer)
      case "batch_headline" | "batch_pipeline" => batch(spark, a, r, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    r.e2e("setup_s") = sessionS + r.setupS
    r.info("session_start_s") = sessionS
    val wallS = (System.nanoTime() - t0) / 1e9
    val nproc = Runtime.getRuntime.availableProcessors
    val load1 = loadAvg1m()
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cores" -> a.cores, "nproc" -> nproc,
      "e2e" -> r.e2e, "layers" -> r.layers,
      "attempted" -> r.attempted, "failed" -> r.failed, "checks" -> r.checks,
      "info" -> r.info,
      "load" -> Map("start_1m" -> load0, "end_1m" -> load1,
        "start_per_core" -> load0 / nproc, "end_per_core" -> load1 / nproc,
        "jvm_cpu_s" -> (cpuS() - cpu0), "wall_s" -> wallS))
    tracer.foreach { tr =>
      val lines = r.spans.map(Json(_)).mkString("\n")
      Files.write(Paths.get(a.out, "spans.jsonl"), (lines + "\n").getBytes(UTF_8))
      tr.close()
    }
    Files.write(Paths.get(a.out, "result.json"), (Json(out) + "\n").getBytes(UTF_8))
    spark.stop()
  }

  // ---------- event generation (seeded) ----------

  final case class Events(keys: Array[String], values: Array[String], ids: Array[Long])

  private val EventTypes = Array("view", "click", "purchase", "signup", "error")
  private val TypeCdf = Array(0.55, 0.80, 0.92, 0.97, 1.0)
  // 2024-01-01T00:00:00Z: a fixed event-time origin, so streaming result
  // and batch twin never depend on the wall clock
  private val EventTimeOriginUs = 1704067200000000L

  /** Zipf(s) CDF over `n` user ranks. */
  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / tot }
  }

  private def draw(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  private def payload(id: Long, tsUs: Long, user: Long, tpe: String, value: Double): String =
    s"""{"event_id":$id,"ts_us":$tsUs,"user_id":$user,"event_type":"$tpe","value":$value}"""

  /** `n` messages in publish order. Event `i` has event time
    * `i * stepUs` after the origin, minus a uniform shift below
    * `oooMaxUs` for an `oooShare` of events (out of order, but inside the
    * 10-minute watermark). A `dupShare` of messages redeliver one of the
    * previous `dupWindow` messages verbatim.
    */
  def generate(seed: Long, n: Int, stepUs: Double, users: Int, zipfS: Double,
               oooShare: Double, oooMaxUs: Long, dupShare: Double,
               dupWindow: Int): Events = {
    val rnd = new SplittableRandom(seed)
    val cdf = zipfCdf(users, zipfS)
    val keys = new Array[String](n)
    val values = new Array[String](n)
    val ids = new Array[Long](n)
    var nextId = 0L
    var i = 0
    while (i < n) {
      if (i > 0 && rnd.nextDouble() < dupShare) {
        val j = i - 1 - rnd.nextInt(math.min(i, dupWindow))
        keys(i) = keys(j); values(i) = values(j); ids(i) = ids(j)
      } else {
        val user = draw(cdf, rnd.nextDouble()).toLong + 1
        val tpe = EventTypes(draw(TypeCdf, rnd.nextDouble()))
        val value = rnd.nextInt(401) * 0.5 // halves: exact in binary, so sums are order-free
        val shift = if (rnd.nextDouble() < oooShare) rnd.nextLong(oooMaxUs) else 0L
        val ts = EventTimeOriginUs + (i * stepUs).toLong - shift
        keys(i) = user.toString
        values(i) = payload(nextId, ts, user, tpe, value)
        ids(i) = nextId
        nextId += 1
      }
      i += 1
    }
    Events(keys, values, ids)
  }

  private def offsets(json: String, parts: Int): Array[Long] =
    if (json == null) Array.fill(parts)(0L)
    else json.trim.stripPrefix("[").stripSuffix("]").split(",").map(_.trim.toLong)

  private def batchEndMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli.toDouble + p.batchDuration

  private def batchStartMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli.toDouble

  /** Layer metrics read from the streaming progress records (the traced
    * run gets them from its StreamingQueryListener). Per-batch phase
    * times are means: progress durations are whole milliseconds.
    */
  private def streamingLayers(r: Result, ps: Seq[StreamingQueryProgress]): Unit = {
    val withRows = ps.filter(_.numInputRows > 0)
    def dur(k: String) = withRows.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val state = ps.flatMap(_.stateOperators.headOption)
    r.layers ++= Seq(
      "streaming.batches" -> withRows.size.toDouble,
      "streaming.rows_per_batch_p50" -> quantile(withRows.map(_.numInputRows.toDouble), 0.5),
      "streaming.batch_ms_p50" -> quantile(withRows.map(_.batchDuration.toDouble), 0.5),
      "streaming.batch_ms_p90" -> quantile(withRows.map(_.batchDuration.toDouble), 0.9),
      "sources.latest_offset_ms" -> mean(dur("latestOffset")),
      "sources.get_batch_ms" -> mean(dur("getBatch")),
      "streaming.query_planning_ms" -> mean(dur("queryPlanning")),
      "streaming.add_batch_ms" -> mean(dur("addBatch")),
      "streaming.wal_commit_ms" -> mean(dur("walCommit")),
      "streaming.commit_offsets_ms" -> mean(dur("commitOffsets")),
      "streaming.state_rows" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_bytes" -> state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "streaming.state_commit_ms" -> mean(state.map(_.commitTimeMs.toDouble)),
      "streaming.dropped_by_watermark" -> state.map(_.numRowsDroppedByWatermark.toDouble).sum)
  }

  private def streamOps(ps: Seq[StreamingQueryProgress]): Seq[Op] =
    ps.filter(_.numInputRows > 0).map(p =>
      Op(p.batchId, "batch", s"batch ${p.batchId}", batchStartMs(p), batchStartMs(p), batchEndMs(p)))

  private def partitionSkew(topic: String): Double = {
    val ends = MqBroker.endOffsets(topic).map(_.toDouble)
    if (ends.sum == 0) 0.0 else ends.max / (ends.sum / ends.length)
  }

  // ---------- mq_steady: open-loop offered load, per-event latency ----------

  def mqSteady(spark: SparkSession, a: Args, r: Result, tr: Option[Tracer]): Unit = {
    val parts = a.int("partitions")
    val rate = a.dbl("rate")
    val warmupS = a.dbl("warmup_s")
    val maxStartS = a.dbl("max_start_s")
    // enough events for the slowest accepted query start plus the window
    val n = (rate * (maxStartS + warmupS + a.seconds)).toInt
    val topic = "perfbench_steady_in"
    def gen() = generate(a.seed, n, 1e6 / rate * a.dbl("event_time_speedup"), a.int("users"),
      a.dbl("zipf_s"), a.dbl("ooo_share"), (a.dbl("ooo_max_s") * 1e6).toLong, 0.0, 1)
    // payload generation is repeatable: time it three times, keep the median
    var ev: Events = null
    val genS = quantile((1 to 3).map { _ =>
      val t = System.nanoTime(); ev = gen(); (System.nanoTime() - t) / 1e9
    }, 0.5)
    val setupT0 = System.nanoTime()
    MqBroker.deleteTopic(topic)
    MqBroker.createTopic(topic, parts)

    val sink = new ConcurrentHashMap[(Long, String), (Long, Double)]()
    val sinkRows = new java.util.concurrent.atomic.AtomicLong()
    val q: StreamingQuery = Streams.tumblingCounts(Streams.decodeEvents(Streams.mqStream(spark, topic)))
      .writeStream.outputMode("update")
      .trigger(Trigger.ProcessingTime(a.int("trigger_ms").toLong))
      .option("checkpointLocation", s"${a.out}/cp_steady")
      .foreachBatch { (df: DataFrame, _: Long) =>
        // the sink: upsert each updated window row into a keyed table
        df.select(unix_micros(col("window_start")), col("event_type"), col("n"), col("total_value"))
          .collect().foreach { row =>
            sink.put((row.getLong(0), row.getString(1)), (row.getLong(2), row.getDouble(3)))
            sinkRows.incrementAndGet()
          }
      }
      .start()

    // open loop: event i is due at start + i/rate whatever the pipeline
    // does; publishing stops at the end of the measured window
    val dueNs = (i: Int) => (i * 1e9 / rate).toLong
    var late = new Array[Long](n)
    var publishNs = 0L
    val timePublish = a.trace
    @volatile var stopNs = Long.MaxValue
    @volatile var published = 0
    val genStartNs = System.nanoTime() + 50000000L
    val genStartMs = nanoToMs(genStartNs)
    val generator = new Thread(() => {
      var i = 0
      while (i < n && genStartNs + dueNs(i) < stopNs) {
        val due = genStartNs + dueNs(i)
        val now = System.nanoTime()
        if (now < due) LockSupport.parkNanos(due - now)
        else {
          while (i < n && genStartNs + dueNs(i) <= System.nanoTime() &&
                 genStartNs + dueNs(i) < stopNs) {
            val t = System.nanoTime()
            late(i) = t - (genStartNs + dueNs(i))
            MqBroker.publish(topic, ev.keys(i), ev.values(i),
              ((genStartMs + dueNs(i) / 1e6) * 1000).toLong)
            if (timePublish) publishNs += System.nanoTime() - t
            i += 1
          }
          published = i
        }
      }
    }, "perfbench-generator")
    generator.setDaemon(true)
    generator.start()

    def sleepUntil(ms: Double): Unit = {
      var d = ms - nowMs()
      while (d > 0) { Thread.sleep(math.max(1L, d.toLong)); d = ms - nowMs() }
    }
    // warm-up: the query's first data batch (start-up and its backlog),
    // then warmup_s of steady load before the window opens
    while (!Option(q.lastProgress).exists(_.numInputRows > 0)) {
      require(nowMs() - genStartMs < maxStartS * 1000,
        s"no micro-batch finished within max_start_s=$maxStartS")
      require(q.isActive, s"query stopped: ${q.exception.map(_.getMessage).getOrElse("")}")
      Thread.sleep(5)
    }
    val startedS = (nowMs() - genStartMs) / 1000
    val winStart = nowMs() + warmupS * 1000
    val winEnd = winStart + a.seconds * 1000
    stopNs = anchorNs + ((winEnd - anchorMs) * 1e6).toLong
    sleepUntil(winStart)
    r.setupS = genS + (System.nanoTime() - setupT0) / 1e9
    val cpu0 = cpuS(); val gc0 = gcMs()
    sleepUntil(winEnd)
    val cpu1 = cpuS(); val gc1 = gcMs()
    generator.join()
    require(genStartMs + dueNs(published - 1) / 1e6 >= winEnd - 1000.0 / rate - 1,
      "the generator ran out of events before the window closed")
    val lagEnd = MqBroker.totalSize(topic) -
      Option(q.lastProgress).map(p => offsets(p.sources.head.endOffset, parts).sum).getOrElse(0L)
    val (lateP99, lateMax) = {
      val ms = late.take(published).map(_ / 1e6)
      (quantile(ms, 0.99), ms.max)
    }
    // the harness's own payloads are released before the heap reading,
    // which is taken while the query and its state store are still live
    ev = null; late = null
    q.processAllAvailable()
    val heap = heapMb()
    q.stop()

    val progress = q.recentProgress.toSeq
    val samples = mutable.ArrayBuffer.empty[Double]
    val inWindow = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    var lastEnd = winStart
    progress.filter(_.numInputRows > 0).foreach { p =>
      val end = batchEndMs(p)
      val s = offsets(p.sources.head.startOffset, parts)
      val e = offsets(p.sources.head.endOffset, parts)
      var hit = false
      (0 until parts).foreach { part =>
        MqBroker.fetch(topic, part, s(part), e(part)).foreach { m =>
          val due = m.timestampUs / 1000.0
          if (due >= winStart && due < winEnd) {
            samples += end - due; hit = true
            lastEnd = math.max(lastEnd, end)
          }
        }
      }
      if (hit) inWindow += p
    }
    r.e2e("latency_p50_ms") = quantile(samples, 0.5)
    r.e2e("latency_p90_ms") = quantile(samples, 0.9)
    r.e2e("rows_per_s") = samples.size / ((lastEnd - winStart) / 1000)
    r.e2e("mix_s") = quantile(inWindow.map(_.batchDuration / 1000.0), 0.5)
    r.e2e("cpu_s") = cpu1 - cpu0
    r.e2e("heap_mb") = heap
    r.info ++= Seq("latency_events" -> samples.size, "latency_batches" -> inWindow.size,
      "offered_rate" -> rate, "events_published" -> published, "query_start_s" -> startedS,
      "batches" -> progress.filter(_.numInputRows > 0).map(p =>
        Seq(batchStartMs(p) - winStart, p.batchDuration.toDouble, p.numInputRows.toDouble)))

    // correctness: the upserted window table equals the batch twin,
    // tumblingCounts over a batch read of the same topic
    val twin = Streams.tumblingCounts(Streams.decodeEvents(
        spark.read.format(MqSource.format).option("topic", topic).load()))
      .select(unix_micros(col("window_start")), col("event_type"), col("n"), col("total_value"))
      .collect().map(row => (row.getLong(0), row.getString(1)) -> (row.getLong(2), row.getDouble(3)))
      .toMap
    val got = sink.asScala.toMap
    val observed = if (a.corrupt) got - got.keys.head else got
    val badRows = (twin.keySet ++ observed.keySet).toSeq.map { k =>
      (twin.get(k), observed.get(k)) match {
        case (Some((n1, v1)), Some((n2, v2))) =>
          if (n1 != n2) math.abs(n1 - n2) else if (v1 != v2) n1 else 0L
        case (Some((n1, _)), None) => n1
        case (None, Some((n2, _))) => n2
        case _ => 0L
      }
    }.sum
    r.attempted = published
    r.check("steady_windows_equal_batch_twin", badRows,
      s"${twin.size} twin groups, ${observed.size} sink groups")

    r.layers ++= Seq(
      "sources.publish_ns" -> (if (timePublish) publishNs.toDouble / published else 0.0),
      "sources.lag_end_rows" -> lagEnd.toDouble,
      "sources.partition_skew" -> partitionSkew(topic),
      "gen.late_p99_ms" -> lateP99,
      "gen.late_max_ms" -> lateMax,
      "sink.rows" -> sinkRows.get.toDouble)
    tr.foreach { t =>
      val ps = t.progress.asScala.toSeq.filter(_.runId == q.runId)
      streamingLayers(r, ps.filter(p => inWindow.exists(_.batchId == p.batchId)))
      val rowsIn = inWindow.map(_.numInputRows).sum.toDouble
      r.layers("streaming.dedup_keep_ratio") = if (rowsIn > 0) sinkRows.get / rowsIn else 0.0
      val (m, spans) = t.summarize(streamOps(inWindow.toSeq), winEnd - winStart)
      r.layers ++= m
      // a micro-batch plans its incremental execution inside queryPlanning
      r.layers("spark.plan_ms") = r.layers("streaming.query_planning_ms")
      r.spans = spans
      r.layers ++= t.selfTimes(spans).map { case (k, v) => s"self.$k" -> v }
    }
    r.layers("jvm.gc_ms") = (gc1 - gc0).toDouble
    MqBroker.deleteTopic(topic)
  }

  // ---------- mq_catchup: drain a pre-published backlog ----------

  def mqCatchup(spark: SparkSession, a: Args, r: Result, tr: Option[Tracer]): Unit = {
    val parts = a.int("partitions")
    val n = math.max(1, (a.dbl("backlog_per_s") * a.seconds).toInt)
    val in = "perfbench_catchup_in"
    val out = "perfbench_catchup_out"
    def gen(seed: Long, rows: Int) =
      generate(seed, rows, a.dbl("event_step_ms") * 1000, a.int("users"), a.dbl("zipf_s"),
        a.dbl("ooo_share"), (a.dbl("ooo_max_s") * 1e6).toLong, a.dbl("dup_share"),
        a.int("dup_window"))
    def publishAll(topic: String, ev: Events): Unit = {
      MqBroker.deleteTopic(topic)
      MqBroker.createTopic(topic, parts)
      var i = 0
      while (i < ev.keys.length) { MqBroker.publish(topic, ev.keys(i), ev.values(i), 0L); i += 1 }
    }
    // the pipeline under test: S2 -> S4 -> T5 -> S5b, drained by writeToMq
    // (Trigger.AvailableNow) under maxOffsetsPerTrigger; returns the query
    def drain(from: String, to: String, cp: String): StreamingQuery = {
      MqBroker.deleteTopic(to)
      MqBroker.createTopic(to, parts)
      val events = spark.readStream.format(MqSource.format).option("topic", from)
        .option("maxOffsetsPerTrigger", a.int("max_offsets_per_trigger").toString).load()
      val deduped = Streams.dedupStream(Streams.decodeEvents(events))
        .select(col("event_id").cast("string").as("key"),
          to_json(struct(col("event_id"), col("ts"), col("user_id"), col("event_type"),
            col("value"))).as("value"))
      @volatile var err: Throwable = null
      val runner = new Thread(() =>
        try Streams.writeToMq(deduped, to, cp)
        catch { case e: Throwable => err = e }, "perfbench-drain")
      runner.start()
      // writeToMq blocks until the drain ends; hold the query handle so the
      // progress records stay readable afterwards
      var q: StreamingQuery = null
      while (q == null && runner.isAlive) {
        q = spark.streams.active.headOption.orNull
        if (q == null) Thread.sleep(1)
      }
      runner.join()
      if (err != null) throw err
      require(q != null, "drain finished before its query could be observed")
      q
    }

    // generation + backlog publish is repeatable: three fresh topics,
    // median time; the last one is drained
    var ev: Events = null
    var publishS = 0.0
    val prepS = quantile((1 to 3).map { _ =>
      val t = System.nanoTime()
      ev = gen(a.seed, n)
      val tp = System.nanoTime()
      publishAll(in, ev)
      publishS = (System.nanoTime() - tp) / 1e9
      (System.nanoTime() - t) / 1e9
    }, 0.5)
    // warm-up: the same pipeline drains a smaller backlog of its own first
    val warmT0 = System.nanoTime()
    val warmIn = "perfbench_catchup_warm_in"
    val warmOut = "perfbench_catchup_warm_out"
    publishAll(warmIn, gen(a.seed + 1, a.int("warmup_rows")))
    drain(warmIn, warmOut, s"${a.out}/cp_catchup_warm")
    MqBroker.deleteTopic(warmIn)
    MqBroker.deleteTopic(warmOut)
    r.setupS = prepS + (System.nanoTime() - warmT0) / 1e9

    val due = nowMs()
    val cpu0 = cpuS(); val gc0 = gcMs()
    val q = drain(in, out, s"${a.out}/cp_catchup")
    val cpu1 = cpuS(); val gc1 = gcMs()

    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val firstStart = progress.map(batchStartMs).min
    val lastEnd = progress.map(batchEndMs).max
    val rowsIn = progress.map(_.numInputRows).sum
    r.e2e("latency_p50_ms") = weightedQuantile(progress.map(p => (batchEndMs(p) - due, p.numInputRows)), 0.5)
    r.e2e("latency_p90_ms") = weightedQuantile(progress.map(p => (batchEndMs(p) - due, p.numInputRows)), 0.9)
    r.e2e("rows_per_s") = rowsIn / ((lastEnd - firstStart) / 1000)
    r.e2e("mix_s") = quantile(progress.map(_.batchDuration / 1000.0), 0.5)
    r.e2e("cpu_s") = cpu1 - cpu0
    r.attempted = n
    checkCatchup(r, ev.ids, out, parts, a.corrupt)
    // the drained query has ended; the harness's own payloads are released
    // before the heap reading, so it holds the broker's topics and what
    // the engine retained
    ev = null
    r.e2e("heap_mb") = heapMb()
    r.info ++= Seq("backlog" -> n, "latency_batches" -> progress.size, "rows_in" -> rowsIn,
      "drain_s" -> (lastEnd - firstStart) / 1000)

    r.layers ++= Seq(
      "sources.publish_ns" -> publishS * 1e9 / n,
      "sources.lag_end_rows" -> (MqBroker.totalSize(in) - offsets(progress.last.sources.head.endOffset, parts).sum).toDouble,
      "sources.partition_skew" -> partitionSkew(in),
      "sink.rows" -> MqBroker.totalSize(out).toDouble)
    tr.foreach { t =>
      val ps = t.progress.asScala.toSeq.filter(_.runId == q.runId)
      streamingLayers(r, ps)
      r.layers("streaming.dedup_keep_ratio") = MqBroker.totalSize(out).toDouble / rowsIn
      val (m, spans) = t.summarize(streamOps(progress), lastEnd - firstStart)
      r.layers ++= m
      // a micro-batch plans its incremental execution inside queryPlanning
      r.layers("spark.plan_ms") = r.layers("streaming.query_planning_ms")
      r.spans = spans
      r.layers ++= t.selfTimes(spans).map { case (k, v) => s"self.$k" -> v }
    }
    r.layers("jvm.gc_ms") = (gc1 - gc0).toDouble
    MqBroker.deleteTopic(in)
    MqBroker.deleteTopic(out)
  }

  /** The output topic holds each distinct input id exactly once. */
  private def checkCatchup(r: Result, ids: Array[Long], out: String, parts: Int,
                           corrupt: Boolean): Unit = {
    val want = ids.toSet
    val outKeys = (0 until parts).flatMap(p =>
      MqBroker.fetch(out, p, 0, MqBroker.endOffsets(out)(p)).map(_.key.toLong))
    val observed = if (corrupt) outKeys.drop(1) else outKeys
    val counts = observed.groupBy(identity).map { case (k, v) => k -> v.size }
    val missing = want.count(id => !counts.contains(id)).toLong
    val extra = counts.map { case (k, c) => if (want.contains(k)) c - 1 else c }.sum.toLong
    r.check("catchup_output_ids_equal_distinct_input", missing + extra,
      s"${want.size} distinct input ids, ${observed.size} output rows, $missing missing, $extra extra")
  }

  // ---------- batch mixes: closed loop over declared queries ----------

  /** Order-insensitive digest of a frame's rows, observed during the
    * action itself: row count and the exact sum of per-row hashes over
    * the columns in name order.
    */
  def digested(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      val c = col("`" + f.name + "`")
      if (f.dataType.sql.contains("MAP<")) to_json(c) else c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    (df.observe(obs, count(lit(1)).as("n"), sum(h.cast("decimal(38,0)")).as("h")), obs)
  }

  def digestOf(obs: Observation): String = {
    val m = obs.get
    s"${m("n")}:${Option(m("h")).getOrElse(0)}"
  }

  /** Shared index builds a batch mix may consume, by artifact name: each
    * clears its session memo, then builds and materializes it through the
    * engine's public builder.
    */
  private val SharedBuilds: Map[String, (SparkSession, String) => Unit] = Map(
    "ivf_centroids" -> { (spark, dir) =>
      Similarity.invalidateSessionCaches()
      Similarity.defaultCentroids(spark, dir).count()
      ()
    })

  def batch(spark: SparkSession, a: Args, r: Result, tr: Option[Tracer]): Unit = {
    val mix = a.list("queries")
    val qs = SparkEntry.queries
    mix.foreach(q => require(qs.contains(q), s"query '$q' is not declared"))
    val builds = a.list("builds")
    builds.foreach(b => require(SharedBuilds.contains(b), s"unknown shared build '$b'"))

    // shared builds first, so every query run reads the memoized artifact;
    // a build is repeatable from a cleared memo: time three builds and
    // keep the median (the last one stays in the memo)
    val buildS = builds.map { b =>
      b -> quantile((1 to 3).map { _ =>
        val t = System.nanoTime(); SharedBuilds(b)(spark, a.sf); (System.nanoTime() - t) / 1e9
      }, 0.5)
    }
    val setupT0 = System.nanoTime()

    // fixture rows per table, for the input size each query reads
    val tableRows = mutable.Map.empty[String, Long]
    def inputRows(df: DataFrame): Long = {
      // the analyzed plan, before cached data replaces persisted subtrees
      val scanned = df.queryExecution.analyzed.collect {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
      }.flatten
      val tables = (scanned ++ df.inputFiles).flatMap { f =>
        f.split("/").find(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
      }.distinct
      tables.map(t => tableRows.getOrElseUpdate(t,
        spark.read.parquet(s"${a.sf}/$t.parquet").count())).sum
    }

    // check pass (cold, and the warm-up): every query's output is written
    // once for the oracle comparison run.py makes, and its digest becomes
    // the reference each timed run must reproduce
    val ref = mutable.LinkedHashMap.empty[String, String]
    val inRows = mutable.Map.empty[String, Long]
    mix.foreach { q =>
      val df = qs(q)(spark, a.sf)
      inRows(q) = inputRows(df)
      val (d, obs) = digested(df)
      val written =
        if (a.corrupt && q == mix.head)
          spark.createDataFrame(d.collect().drop(1).toSeq.asJava, d.schema)
        else d
      written.write.mode("overwrite").parquet(s"${a.out}/check/$q")
      ref(q) = digestOf(obs)
    }
    Files.write(Paths.get(a.out, "oracle_sql.json"),
      Json(mix.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap).getBytes(UTF_8))
    // two untimed passes on the timed action: the JIT is still compiling
    // through the first passes, and their CPU and wall times keep falling
    (1 to 2).foreach(_ =>
      mix.foreach { q => qs(q)(spark, a.sf).write.format("noop").mode("overwrite").save() })
    r.setupS = buildS.map(_._2).sum + (System.nanoTime() - setupT0) / 1e9

    val rnd = new scala.util.Random(a.seed)
    val ops = mutable.ArrayBuffer.empty[Op]
    val passWall = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val qWall = mutable.LinkedHashMap(mix.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val construct = mutable.ArrayBuffer.empty[Double]
    var rowsRead = 0L
    var mismatched = 0L
    val w0 = nowMs(); val gc0 = gcMs(); val cpu0 = cpuS()
    while (passWall.isEmpty || nowMs() - w0 < a.seconds * 1000) {
      val ps = nowMs(); val pc = cpuS()
      rnd.shuffle(mix).foreach { q =>
        val s = nowMs()
        val df = qs(q)(spark, a.sf)
        val c = nowMs()
        val (d, obs) = digested(df)
        d.write.format("noop").mode("overwrite").save()
        val e = nowMs()
        r.attempted += 1
        if (digestOf(obs) != ref(q)) mismatched += 1
        ops += Op(ops.size.toLong + 1, "query", q, s, c, e)
        qWall(q) += (e - s)
        construct += (c - s)
        rowsRead += inRows(q)
      }
      passWall += nowMs() - ps
      passCpu += cpuS() - pc
    }
    val wallMs = nowMs() - w0
    val gc1 = gcMs(); val cpu1 = cpuS()
    // the client's request is one pass over the mix: per-query walls of
    // four unlike queries would put the median between their clusters
    val runs = ops.map(o => o.endMs - o.startMs)
    r.e2e("latency_p50_ms") = quantile(passWall, 0.5)
    r.e2e("latency_p90_ms") = quantile(passWall, 0.9)
    r.e2e("rows_per_s") = rowsRead / (runs.sum / 1000)
    r.e2e("mix_s") = quantile(passWall.map(_ / 1000), 0.5)
    // all CPU of the timed phase per pass, compile and GC threads included
    r.e2e("cpu_s") = (cpu1 - cpu0) / passWall.size
    r.e2e("heap_mb") = heapMb()
    r.check("batch_runs_match_checked_output", mismatched,
      s"${r.attempted} timed runs against the digest of the oracle-checked pass")
    r.info ++= Seq("passes" -> passWall.size, "query_runs" -> runs.size,
      "pass_s" -> passWall.map(_ / 1000), "pass_cpu_s" -> passCpu,
      "reference_digests" -> ref, "input_rows" -> inRows.toMap)

    val storage = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    r.layers ++= Seq(
      "operators.construct_ms" -> construct.sum / construct.size,
      "cache.storage_bytes" -> storage.map(i => i.memSize + i.diskSize).sum.toDouble,
      "cache.rdds" -> storage.length.toDouble,
      "jvm.gc_ms" -> (gc1 - gc0).toDouble)
    buildS.foreach { case (b, t) => r.layers(s"build.${b}_s") = t }
    qWall.foreach { case (q, w) => r.layers(s"q.$q.wall_s") = quantile(w.map(_ / 1000), 0.5) }
    tr.foreach { t =>
      val (m, spans) = t.summarize(ops.toSeq, wallMs)
      r.layers ++= m
      r.spans = spans
      r.layers ++= t.selfTimes(spans).map { case (k, v) => s"self.$k" -> v }
    }
  }
}

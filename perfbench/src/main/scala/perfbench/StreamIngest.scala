package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.{SnapshotStore, TopicLog}
import graft.streaming.StreamOps

/** stream-ingest: an open loop. A separate generator process appends
  * reference-shaped messages to TopicLog channel files on a fixed schedule
  * while the engine runs `topiclog` → parseMessages → explodeMetrics →
  * minuteTierStream, with a history append through
  * `SnapshotStore.appendEpoch` alongside. A second phase drains a
  * pre-published backlog. Loads `graft.streaming`, `TopicLog` and small,
  * frequent store commits. */
object StreamIngest {
  def run(h: Harness): Unit = new StreamIngest(h).run()

  /** Channel → byte offset from a TopicLog offset's JSON. */
  def offsets(json: String): Map[String, Long] =
    if (json == null || json.isEmpty) Map.empty
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      val chans = Option(node.get("channels")).getOrElse(node)
      chans.fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    }
}

private final class StreamIngest(h: Harness) {
  import StreamIngest._

  private val spark: SparkSession = h.spark
  private val tracer = h.tracer
  private val liveRoot = s"${h.work}/topics"
  private val history = s"${h.work}/stores/history"
  private val tiers = Map("tier" -> new ConcurrentHashMap[(String, Long), Seq[Any]](),
    "drain" -> new ConcurrentHashMap[(String, Long), Seq[Any]]())

  private def sizes(root: String): Map[String, Long] = TopicLog.channelSizes(root, "*")

  /** Bytes published but not yet covered by a trigger's end offset. */
  private def lag(endJson: String): Long = {
    val end = offsets(endJson)
    sizes(liveRoot).map { case (ch, n) => math.max(0L, n - end.getOrElse(ch, 0L)) }.sum
  }

  private def samples(root: String, maxBytes: Option[Long]): DataFrame = {
    val r = spark.readStream.format("topiclog").option("path", root)
    StreamOps.explodeMetrics(StreamOps.parseMessages(
      maxBytes.fold(r)(b => r.option("maxBytesPerTrigger", b)).load()))
  }

  /** The minute tier into a driver-side map (update mode: the latest
    * emission of a (metric, minute) group is its current value). */
  private def startTier(name: String, root: String, maxBytes: Option[Long]): StreamingQuery = {
    val tier = tiers(name)
    StreamOps.minuteTierStream(samples(root, maxBytes)).writeStream
      .queryName(name).outputMode("update")
      .option("checkpointLocation", s"${h.work}/checkpoints/$name")
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (b: DataFrame, id: Long) =>
        tracer.op("sink", s"$name:$id") {
          tracer.span("streaming.sink") {
            b.collect().foreach { r =>
              val minute = r.getTimestamp(1).getTime / 1000
              tier.put((r.getString(0), minute),
                Seq(r.getLong(2), r.getDecimal(3).setScale(2).toPlainString,
                  r.getDouble(4), r.getDouble(5)))
            }
          }
        }
        ()
      }.start()
  }

  private def startHistory(): StreamingQuery =
    samples(liveRoot, None).writeStream.queryName("history")
      .option("checkpointLocation", s"${h.work}/checkpoints/history")
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (b: DataFrame, id: Long) =>
        tracer.op("sink", s"history:$id") {
          tracer.span("sources.store.commit") {
            SnapshotStore.appendEpoch(
              b.select(col("ts"), col("source"), col("metric"), col("value")), history, id)
          }
        }
        ()
      }.start()

  /** Run the generator over part `part` of `parts` of a schedule and wait
    * for it. `startEpoch` in the past publishes the part at once. */
  private def publish(schedule: String, log: String, startEpoch: Double,
                      part: Int = 0, parts: Int = 1): Unit = {
    val p = new ProcessBuilder(h.args("python"), h.args("publisher"),
      "--schedule", schedule, "--root", liveRoot, "--log", log,
      "--start-epoch", f"$startEpoch%.6f", "--part", part.toString,
      "--parts", parts.toString)
      .redirectErrorStream(true)
      .redirectOutput(new java.io.File(s"${h.work}/publisher.log"))
      .start()
    if (!p.waitFor((h.seconds + 60).toLong, TimeUnit.SECONDS)) {
      p.destroyForcibly()
      p.waitFor()
      sys.error("stream generator did not finish")
    }
    require(p.exitValue() == 0, s"stream generator exited with ${p.exitValue()}")
  }

  /** Wait until every query's last committed end offset covers `want`
    * (at most `timeoutS`); false if it never does or a query has died (its
    * error is recorded). */
  private def awaitCovered(qs: Seq[StreamingQuery], want: Map[String, Long],
                           timeoutS: Double): Boolean = {
    val deadline = Clock.nowMs + timeoutS * 1000
    def covered(q: StreamingQuery) = Option(q.lastProgress).exists { p =>
      val end = p.sources.headOption.map(s => offsets(s.endOffset)).getOrElse(Map.empty)
      want.forall { case (ch, n) => end.getOrElse(ch, 0L) >= n }
    }
    def died = qs.flatMap(q => q.exception.map(q.name -> _))
    while (Clock.nowMs < deadline && !qs.forall(covered) && died.isEmpty) Thread.sleep(20)
    died.foreach { case (name, e) => tracer.errors.add(s"query $name: ${e.getMessage}") }
    died.isEmpty && qs.forall(covered)
  }

  /** Progress events reach the listener asynchronously: wait (briefly)
    * until it has seen each query's last reported batch. */
  private def settle(listener: ProgressListener, qs: Seq[StreamingQuery]): Unit = {
    val deadline = Clock.nowMs + 5000
    def seen(q: StreamingQuery) = Option(q.lastProgress).forall { p =>
      listener.progress.asScala.exists(e => e("query") == p.name && e("batch") == p.batchId)
    }
    while (Clock.nowMs < deadline && !qs.forall(seen)) Thread.sleep(20)
  }

  def run(): Unit = {
    val listener = new ProgressListener(lag)
    spark.streams.addListener(listener)
    Files.createDirectories(Paths.get(liveRoot))
    val inputs = h.inputs
    val live = h.setupPart("queries")(Seq(startTier("tier", liveRoot, None), startHistory()))
    // Warm-up: once each query has run its first (planning) trigger, five
    // seconds of live traffic at the live rate (several triggers), so the
    // timed triggers do not pay first-use planning, codegen and JIT.
    h.setupPart("warmup") {
      require(awaitCovered(live, Map.empty, 60), "the stream queries did not start")
      publish(s"$inputs/warmup.jsonl", s"${h.work}/warmup_log.json",
        System.currentTimeMillis() / 1000.0 + 0.2)
      require(awaitCovered(live, sizes(liveRoot), 60), "warm-up messages were not consumed")
    }
    val passes = if (h.traced) 2 else 1
    val pubLogs = (0 until passes).map(p => s"${h.work}/publish_log_$p.json")
    // Messages no trigger covered count as failed in run.py.
    h.measure { (_, pass) =>
      publish(s"$inputs/schedule.jsonl", pubLogs(pass),
        System.currentTimeMillis() / 1000.0 + 0.2, pass, passes)
      awaitCovered(live, sizes(liveRoot), 30)
    }
    settle(listener, live)
    live.foreach(_.stop())
    // Drain: the whole backlog, in about four byte-capped triggers.
    val backlog = s"$inputs/backlog"
    val total = sizes(backlog).values.sum
    val t0 = Clock.nowMs
    val drain = startTier("drain", backlog, Some(math.max(1L, total / 4)))
    val drained = awaitCovered(Seq(drain), sizes(backlog), 60)
    val drainEnd = Option(drain.lastProgress).map(p =>
      java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution"))
    settle(listener, Seq(drain))
    drain.stop()
    spark.streams.removeListener(listener)
    h.extra("drain_s") = if (drained) drainEnd.map(e => (e - t0) / 1000.0).getOrElse(0.0) else 0.0
    h.extra("progress") = listener.progress.asScala.toSeq
    h.extra("publish_logs") = pubLogs
    h.extra("history_rows") =
      if (SnapshotStore.currentVersion(history) > 0) SnapshotStore.read(spark, history).count()
      else 0L
    tiers.foreach { case (name, t) =>
      h.extra(s"tier_${if (name == "tier") "live" else name}") =
        t.asScala.toSeq.map { case ((m, minute), v) => Seq(m, minute) ++ v }
    }
  }
}

package org.apache.spark.sql
package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkEntry
import graft.operators.{DurableStage, SessionCache}
import graft.pipelines.{RedditPipeline, RssPipeline, TwitterPipeline}
import graft.sources.{HttpFetch, IdempotentSink, RecordSchemas}

/** The benchmark's JVM side. It drives graft only through its public
  * entry points and writes one JSON record per event to `--events`;
  * perfbench/run.py turns those records into metrics and checks the
  * outputs. Modes:
  *
  *  - queries: `--passes` closed-loop passes over the query sample
  *    in `--items`; each query is
  *    materialized to the noop sink; caches and durable stages are
  *    released at the start of each pass. The first set-up's warm-up
  *    pass writes every sampled query's result to `--gate` for the
  *    oracle compare.
  *  - ingest: every micro-batch of the manifest in `--items`, closed
  *    loop (one line per batch: flow, file of JSON record values), each
  *    parsed, enriched and appended to its flow's idempotent sink.
  *  - probe: one cold-cache run of each query in `--items`, traced and
  *    dumped; used once to freeze the floor/staged lists.
  *
  * `--setups R` sessions are built in turn (the first in a fresh JVM),
  * each followed by a warm-up pass; the last one is measured.
  */
object Main {
  private var spark: SparkSession = _
  private var events: PrintWriter = _
  private var trace: Option[Trace] = None

  private def emit(kv: (String, Any)*): Unit = { events.println(Json.obj(kv: _*)); events.flush() }
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def err(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse(e.getClass.getName)
    m.linesIterator.take(3).mkString(" ").take(400)
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val mode = o("mode")
    val work = o("work")
    val cores = o("cores").toInt
    events = new PrintWriter(Files.newBufferedWriter(Paths.get(o("events")), UTF_8))
    val listed = Files.readAllLines(Paths.get(o("items")), UTF_8).asScala.toSeq.filter(_.nonEmpty)
    val items = if (listed == Seq("*")) SparkEntry.queries.keys.toSeq.sorted else listed
    val warmItems = o.get("warm-items").map(p =>
      Files.readAllLines(Paths.get(p), UTF_8).asScala.toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val traced = o.getOrElse("trace", "0") == "1" || mode == "probe"

    val ingest = mode == "ingest"
    val fetcher = Fetcher(o.getOrElse("fetch-seed", "0").toLong,
      o.getOrElse("fetch-fail-permille", "0").toInt)
    def loadBatches(lines: Seq[String]): Seq[Batch] = lines.map { l =>
      val Array(flow, path) = l.split("\t")
      Batch(flow, new File(path).getName.stripSuffix(".jsonl"),
        Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq)
    }

    // ---- set-up: R sessions in turn, each followed by a warm-up pass over
    // the workload's code paths. The first set-up's pass also writes each
    // query's result for the correctness gate (untimed, outside the
    // measured region).
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var batches = Seq.empty[Batch]
    for (i <- 0 until o.getOrElse("setups", "1").toInt) {
      val wall0 = if (i == 0) jvmStartMs else System.currentTimeMillis()
      if (spark != null) spark.stop()
      spark = newSession(cores)
      val sessionS = (System.currentTimeMillis() - wall0) / 1e3
      val t1 = System.nanoTime()
      if (ingest) {
        batches = loadBatches(items)
        val sinks = s"$work/warm-sinks"
        loadBatches(warmItems).zipWithIndex.foreach { case (b, j) =>
          runBatch(b, sinks, fetcher, -1 - j) }
        deleteTree(new File(sinks))
      } else {
        val gate = o.get("gate").filter(_ => i == 0)
        items.distinct.foreach(q => runQuery(q, o("data"), -1, gate.map(g => s"$g/$q")))
        gate.foreach(writeOracles(_, items.distinct))
        SessionCache.releaseAll(spark)
        DurableStage.clearAll(spark)
      }
      val warmupS = secs(t1)
      emit("kind" -> "setup", "i" -> i, "session_s" -> sessionS, "warmup_s" -> warmupS,
        "total_s" -> (sessionS + warmupS))
    }
    if (traced) {
      val t = new Trace
      if (ingest || mode == "probe") spark.sparkContext.addSparkListener(t)
      trace = Some(t)
    }

    // ---- measured region
    val log = new File(o("log"))
    emit("kind" -> "measure_start", "log_bytes" -> log.length())
    mode match {
      case "queries" =>
        // Traced runs alternate listener-on and listener-off passes, so
        // one run gives both the layer record and the tracing overhead.
        for (pass <- 0 until o("passes").toInt) {
          val listening = trace.isDefined && pass % 2 == 0
          trace.foreach { t =>
            spark.sparkContext.listenerBus.waitUntilEmpty()
            if (listening) spark.sparkContext.addSparkListener(t)
            else spark.sparkContext.removeSparkListener(t)
          }
          SessionCache.releaseAll(spark)
          DurableStage.clearAll(spark)
          val p0 = System.nanoTime()
          items.zipWithIndex.foreach { case (q, j) => runQuery(q, o("data"), pass * items.size + j) }
          val wall = secs(p0)
          val stages = new File(s"$work/tmp/graft-stage")
          emit("kind" -> "pass", "pass" -> pass, "wall_s" -> wall, "traced" -> listening,
            "stage_builds" -> Option(stages.listFiles()).map(_.count(_.isDirectory)).getOrElse(0),
            "stage_bytes" -> treeBytes(stages),
            "cached_bytes" -> spark.sparkContext.getRDDStorageInfo
              .map(i => i.memSize + i.diskSize).sum)
        }
      case "ingest" =>
        // Traced runs also time each layer alone on the first ProbedBatches
        // batches, outside the batch's own timing.
        val sinks = s"$work/sinks"
        batches.zipWithIndex.foreach { case (b, j) =>
          val probed = traced && j < ProbedBatches
          // the sink as this batch meets it, for timing the append alone
          val before = new File(s"$work/probe-sink")
          if (probed) copyTree(new File(s"$sinks/${b.flow}"), before)
          runBatch(b, sinks, fetcher, j)
          if (probed) {
            probeBatch(b, fetcher, j, before.getPath)
            deleteTree(before)
          }
        }
      case "probe" =>
        items.zipWithIndex.foreach { case (q, j) =>
          SessionCache.releaseAll(spark)
          DurableStage.clearAll(spark)
          runQuery(q, o("data"), j)
        }
    }
    emit("kind" -> "measure_end", "log_bytes" -> log.length())
    trace.foreach(_.dump(spark, events))

    emit(resources(): _*)
    events.close()
    spark.stop()
  }

  private def newSession(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftBridge.installOptimizerRule(s, graft.plans.TopKWindowRule)
    GraftBridge.installOptimizerRule(s, graft.plans.BandJoinRule)
    GraftBridge.installOptimizerRule(s, graft.plans.IntervalJoinRule)
    GraftBridge.installStrategy(s, graft.plans.AsOfJoinStrategy)
    s
  }

  /** One query: construct (graft's eager work) then the final plan to
    * the noop sink, or to parquet at `dumpTo` as graft.Verify writes
    * it, each under its own trace tag. */
  private def runQuery(q: String, data: String, run: Int, dumpTo: Option[String] = None)
      : Unit = {
    val t0 = System.nanoTime()
    var c = 0.0
    try {
      val (df, c0, c1) = Trace.tagged(spark, q, run, "construct")(SparkEntry.queries(q)(spark, data))
      c = secs(t0)
      val (_, w0, w1) = Trace.tagged(spark, q, run, "execute")(dumpTo match {
        case Some(path) => df.coalesce(1).write.mode("overwrite").parquet(path)
        case None => df.write.format("noop").mode("overwrite").save()
      })
      if (run >= 0) emit("kind" -> "query", "name" -> q, "run" -> run, "ok" -> true,
        "wall_s" -> secs(t0), "construct_s" -> c, "c0_ms" -> c0, "c1_ms" -> c1,
        "w0_ms" -> w0, "w1_ms" -> w1)
    } catch { case e: Throwable =>
      if (run >= 0) emit("kind" -> "query", "name" -> q, "run" -> run, "ok" -> false,
        "wall_s" -> secs(t0), "construct_s" -> c, "err" -> err(e))
      else if (dumpTo.isDefined) emit("kind" -> "gate_error", "name" -> q, "err" -> err(e))
    }
  }

  /** oracle_sql.json for `names`, as graft.Verify writes it. */
  private def writeOracles(dir: String, names: Seq[String]): Unit = {
    new File(dir).mkdirs()
    val oracles = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
      oracles.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}"))
  }

  final case class Batch(flow: String, name: String, values: Seq[String])

  /** Batches (two of each topic) whose layers a traced run times alone. */
  val ProbedBatches = 6

  private val LinkSchema = StructType(Seq(StructField("link", StringType)))

  private def exists(path: String): Boolean = {
    val d = new File(path)
    d.isDirectory && d.list().exists(_.endsWith(".parquet"))
  }

  /** The flow's frame for one batch: parse → (fetch) → pipeline. */
  private def flowFrame(b: Batch, raw: DataFrame, sink: String, fetcher: HttpFetch.Fetcher)
      : DataFrame = b.flow match {
    case "tweets" =>
      TwitterPipeline(RecordSchemas.parse(raw, "value", RecordSchemas.TweetSchema))
    case "posts" =>
      RedditPipeline(RecordSchemas.parse(raw, "value", RecordSchemas.RedditPostSchema))
    case "feeds" =>
      val fetched = HttpFetch.fetchContent(
        RecordSchemas.parse(raw, "value", RecordSchemas.RssFeedSchema), fetcher)
      RssPipeline(fetched, seenLinks(sink))
  }

  /** The links an RSS sink already holds. */
  private def seenLinks(sink: String): DataFrame =
    if (exists(sink)) spark.read.parquet(sink).select("link")
    else spark.createDataFrame(java.util.List.of[Row](), LinkSchema)

  val SinkKeys = Map("tweets" -> Seq("tweet_id"), "posts" -> Seq("id"), "feeds" -> Seq("link"))

  private def rawFrame(b: Batch): DataFrame =
    spark.createDataset(b.values)(Encoders.STRING).toDF("value")

  /** One micro-batch: hand-off (the raw Kafka-value frame) → sink commit. */
  private def runBatch(b: Batch, sinks: String, fetcher: HttpFetch.Fetcher, run: Int): Unit = {
    val sink = s"$sinks/${b.flow}"
    val t0 = System.nanoTime()
    val item = s"${b.flow}#${b.name}"
    try {
      val (_, s0, s1) = Trace.tagged(spark, item, run, "execute") {
        IdempotentSink.append(flowFrame(b, rawFrame(b), sink, fetcher), sink, SinkKeys(b.flow))
      }
      if (run >= 0) emit("kind" -> "batch", "flow" -> b.flow, "name" -> b.name, "run" -> run,
        "ok" -> true, "wall_s" -> secs(t0), "s0_ms" -> s0, "s1_ms" -> s1)
    } catch { case e: Throwable =>
      if (run >= 0) emit("kind" -> "batch", "flow" -> b.flow, "name" -> b.name, "run" -> run,
        "ok" -> false, "wall_s" -> secs(t0), "err" -> err(e))
    }
  }

  /** Traced ingest only: each layer of the batch materialized alone,
    * outside the batch's own timing. The sink append is timed on the
    * flow's frame cached beforehand, into `sinkBefore`, a copy of the
    * sink as the batch met it. */
  private def probeBatch(b: Batch, fetcher: HttpFetch.Fetcher, run: Int, sinkBefore: String)
      : Unit = {
    import org.apache.spark.sql.functions.col
    val schema = b.flow match {
      case "tweets" => RecordSchemas.TweetSchema
      case "posts" => RecordSchemas.RedditPostSchema
      case _ => RecordSchemas.RssFeedSchema
    }
    def timed(layer: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      try {
        Trace.tagged(spark, s"${b.flow}#${b.name}", run, "probe")(body)
        emit("kind" -> "layer", "flow" -> b.flow, "run" -> run, "layer" -> layer,
          "ok" -> true, "s" -> secs(t0))
      } catch { case e: Throwable =>
        emit("kind" -> "layer", "flow" -> b.flow, "run" -> run, "layer" -> layer,
          "ok" -> false, "s" -> secs(t0), "err" -> err(e))
      }
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    // A frame that cannot be built has no append to time.
    def sinkAlone(flowFrame: => DataFrame): Unit =
      scala.util.Try(flowFrame.cache()).foreach { frame =>
        try {
          scala.util.Try(frame.count())
          timed("sink_append")(IdempotentSink.append(frame, sinkBefore, SinkKeys(b.flow)))
        } finally frame.unpersist()
      }
    val parsed = RecordSchemas.parse(rawFrame(b), "value", schema).cache()
    try {
      timed("parse")(noop(RecordSchemas.parse(rawFrame(b), "value", schema)))
      val rows = parsed.count()
      emit("kind" -> "rows", "flow" -> b.flow, "run" -> run, "parsed" -> rows)
      b.flow match {
        case "tweets" =>
          timed("pipeline")(noop(TwitterPipeline(parsed)))
          sinkAlone(TwitterPipeline(parsed))
          timed("vader")(noop(parsed.select(graft.functions.SentimentOps.vader(col("text")))))
          timed("demojize")(noop(parsed.select(graft.functions.Emoji.demojizeCol(col("text")))))
          timed("clean_text")(noop(parsed.select(graft.functions.TextOps.cleanText(col("text")))))
        case "posts" =>
          timed("pipeline")(noop(RedditPipeline(parsed)))
          sinkAlone(RedditPipeline(parsed))
        case "feeds" =>
          val fetched = HttpFetch.fetchContent(parsed, fetcher)
          timed("fetch")(noop(fetched))
          emit("kind" -> "rows", "flow" -> b.flow, "run" -> run, "fetched" -> fetched.count())
          timed("pipeline")(noop(RssPipeline(fetched,
            spark.createDataFrame(java.util.List.of[Row](), LinkSchema))))
          sinkAlone(RssPipeline(fetched, seenLinks(sinkBefore)))
          timed("summary")(noop(fetched.select(
            graft.functions.Summarize.summaryCol(col("title"), col("content")))))
      }
    } finally parsed.unpersist()
  }

  private def resources(): Seq[(String, Any)] = {
    val status = new File("/proc/self/status")
    val hwmKb = if (status.canRead)
      Files.readAllLines(status.toPath).asScala.find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
      else 0L
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    val cached = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    Seq("kind" -> "resources", "peak_rss_mb" -> hwmKb / 1024.0, "gc_s" -> gcMs / 1e3,
      "heap_peak_mb" -> heapPeak / 1048576.0, "cached_bytes" -> cached)
  }

  private def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length()

  private def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).foreach(_.foreach(f => copyTree(f, new File(to, f.getName))))
    } else if (from.isFile) Files.copy(from.toPath, to.toPath)

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** In-process article fetcher standing in for the HTTP client: fails a
  * fixed share of links, chosen by CRC32(seed:link) so the generator
  * can predict exactly which; otherwise returns an HTML page whose
  * text is derived from the link. */
final case class Fetcher(seed: Long, failPermille: Int) extends (String => Option[String]) {
  def apply(link: String): Option[String] = {
    val crc = new java.util.zip.CRC32
    crc.update(s"$seed:$link".getBytes(UTF_8))
    if (crc.getValue % 1000 < failPermille) None
    else {
      val words = Fetcher.Words
      val h = link.hashCode & 0x7fffffff
      val body = (0 until 40 + h % 80).map(i => words((h / 7 + i * 31 + i * i) % words.length))
      Some(s"<html><body><h1>${link}</h1><p>${body.mkString(" ")}.</p>" +
        s"<p>${body.reverse.take(30).mkString(" ")}.</p></body></html>")
    }
  }
}

object Fetcher {
  val Words: Array[String] = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "query", "scan", "batch",
    "release", "engine", "cluster", "latency")
}

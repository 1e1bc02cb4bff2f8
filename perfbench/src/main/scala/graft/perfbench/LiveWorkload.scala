package graft.perfbench

import java.io.PrintWriter
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lower}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.util
import graft.streaming.KStreams
import graft.streaming.KStreams.Record

/** Seeded record generator for the live topology: Zipf-distributed keys
  * (a few hot keys), event times one millisecond apart with a share of
  * out-of-order events and a share of equal-`ts` ties (a record that
  * repeats the latest `ts` of its key), and a value mix in which about a
  * third of the records pass the topology's filter, so keys keep
  * entering and leaving the filtered table (tombstones). */
final class Generator(seed: Long, keys: Int, zipfS: Double, oooShare: Double,
    tieShare: Double) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val cdf = {
    val w = (1 to keys).map(r => 1.0 / math.pow(r, zipfS))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private val lastTs = mutable.Map[Int, Long]()
  private val others = Array("view", "click", "signup", "error")
  private val t0 = 1704067200000L // 2024-01-01T00:00:00Z
  private var seq = 0L

  /** The next record and its arrival sequence number. */
  def next(): (Long, Record) = {
    val k = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, keys - 1)
    }
    val value = rnd.nextDouble() match {
      case u if u < 0.03 => "PURCHASE"
      case u if u < 0.35 => "purchase"
      case _ => others(rnd.nextInt(others.length))
    }
    val u = rnd.nextDouble()
    val ts =
      if (u < tieShare && lastTs.contains(k)) lastTs(k)
      else if (u < tieShare + oooShare) t0 + seq - 1 - rnd.nextInt(3000)
      else t0 + seq
    lastTs(k) = math.max(lastTs.getOrElse(k, ts), ts)
    val r = (seq, Record(f"k$k%05d", value, new Timestamp(ts)))
    seq += 1
    r
  }
}

/** The reference topology, live: `KStreamDS -> toTable -> filter ->
  * toStream` fed through MemoryStreams, with three memory sinks (the raw
  * stream, the table's changelog and the filtered changelog).
  *
  * Set-up runs the same topology once over a small separate stream.
  * The timed phase has two parts:
  *  1. replay: a preloaded backlog is drained from the earliest offset;
  *  2. live: the generator thread adds records open-loop at a fixed rate
  *     (each addData call is one MemoryStream offset) while the scan
  *     thread runs `KStreams.snapshot` scans of the table on a fixed
  *     schedule; a scan that overruns delays the next.
  * It ends when the final drain has committed every record.
  *
  * Each record's latency is taken from its due time to the commit of
  * the table query's micro-batch that consumed its offset; the runner
  * computes it from the addData calls and the queries' progress records
  * written here. The generated records and the final tables are written
  * out so the runner can check the tables against a latest-per-key
  * computed from the input. */
object LiveWorkload {
  /** A MemoryStream serves one query (each query commits its offsets
    * on it), so each sink reads its own copy of the input, fed the same
    * records in the same addData calls: offsets stay aligned across the
    * three queries, like three consumers of one topic. */
  private final class Topology(spark: SparkSession, suffix: String) {
    import spark.implicits._
    private implicit val ctx: SQLContext = spark.sqlContext
    private val inputs = Seq.fill(3)(MemoryStream[Record])
    def addData(rows: Seq[Record]): Unit = inputs.foreach(_.addData(rows))
    val names = Seq(s"ks_stream$suffix", s"kt_latest$suffix", s"kt_filtered$suffix")
    def start(): Seq[StreamingQuery] = {
      val Seq(raw, latest, filtered) = inputs.map(i => KStreams.KStreamDS(i.toDS()))
      Seq(
        raw.ds.writeStream.format("memory").queryName(names(0))
          .outputMode(OutputMode.Append).start(),
        latest.toTable.toMemory(names(1)),
        filtered.toTable.filter(lower(col("value")) === "purchase").toStream
          .ds.writeStream.format("memory").queryName(names(2))
          .outputMode(OutputMode.Update).start())
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** The generator wakes this often and adds every record that has come
    * due since its last call. */
  private val TickMs = 50L
  /** Records preloaded before the queries start: about two seconds of
    * replay at the ~10k records/s a 4-core host drains, long enough for
    * a steady replay rate, short enough to leave the run to the live phase. */
  private val Backlog = 20000
  /** Live records per second: below the ~10k/s replay rate, so the
    * topology keeps up and latency measures batching, not a growing queue,
    * yet high enough that every micro-batch carries hundreds of records. */
  private val Rate = 1000.0
  /** Distinct keys, drawn with Zipf exponent 1.1: a few hot keys take
    * most updates while the table still grows to thousands of rows, the
    * size that makes state commits and snapshot scans cost something. */
  private val Keys = 5000
  private val ZipfS = 1.1
  /** Shares of out-of-order records and of equal-`ts` ties: enough of
    * each to exercise the latest-per-key rule on every run. */
  private val OooShare = 0.05
  private val TieShare = 0.03
  /** One interactive-query scan this often: at most 24 scans in a 10-s
    * live phase, beside micro-batches of half a second to a second. */
  private val ScanEveryMs = 400.0
  /** Records per addData call while the backlog and the set-up stream
    * are loaded (each call is one MemoryStream offset). */
  private val Chunk = 1000

  private def generator(seed: Long) = new Generator(seed, Keys, ZipfS, OooShare, TieShare)

  /** Rows the snapshot read from the memory sink: output rows of its
    * plan's leaves. */
  private def rowsScanned(df: DataFrame): Long =
    Plans.collectLeaves(df.queryExecution.executedPlan)
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum

  def run(spark: SparkSession, conf: Main.Conf): Map[String, Any] = {
    val seed = conf("seed").toLong

    // set-up: the whole topology once over a small stream of its own
    val warm = new Topology(spark, "_warmup")
    val wq = warm.start()
    val warmGen = generator(seed + 1)
    warm.addData((0 until Chunk).map(_ => warmGen.next()._2))
    wq.foreach(_.processAllAvailable())
    KStreams.snapshot(spark, warm.names(1)).collect()
    wq.foreach(_.stop())
    warm.names.foreach(n => spark.catalog.dropTempView(n))
    val timingStartMs = Clock.nowMs

    // traced: untraced phases on both sides of the traced one, since the
    // JIT keeps warming over the run
    val traced = if (conf.flag("trace")) Seq(false, true, false) else Seq(false)
    Map(
      "workload" -> conf("workload"),
      "cores" -> conf.int("cores"),
      "timing_start_ms" -> timingStartMs,
      "phases" -> traced.zipWithIndex.map { case (t, i) =>
        timed(spark, conf, generator(seed), s"_$i", s"${conf("results")}/phase$i", t)
      })
  }

  /** One timed phase (replay, live, final drain) over a fresh topology. */
  private def timed(spark: SparkSession, conf: Main.Conf, gen: Generator, suffix: String,
      out: String, traced: Boolean): Map[String, Any] = {
    val liveMs = conf.int("live_ms").toDouble
    val records = mutable.ArrayBuffer[(Long, Record)]()
    def take(n: Int): Seq[Record] = (0 until n).map { _ =>
      val r = gen.next(); records += r; r._2
    }

    val topo = new Topology(spark, suffix)
    (0 until Backlog by Chunk).foreach(i => topo.addData(take(math.min(Chunk, Backlog - i))))
    val backlogCalls = (Backlog + Chunk - 1) / Chunk
    val tracer = if (traced) { val t = new Tracer(spark); t.install(); t } else null
    val startMs = Clock.nowMs
    val builds0 = util.artifactBuildLog.size
    val cpu0 = Main.cpuS
    val gc0 = Main.gcS

    val queries = topo.start()
    queries.foreach(_.processAllAvailable())
    val replayEndMs = Clock.nowMs

    // live phase: generator and scanner threads
    val liveStartMs = Clock.nowMs
    val calls = mutable.ArrayBuffer[(Int, Long, Int, Double)]() // offset, first seq, count, sent at
    val generator = new Thread(() => {
      var sent = 0
      var offset = backlogCalls
      val total = (Rate * liveMs / 1000).toInt
      while (sent < total) {
        val due = math.min(total, ((Clock.nowMs - liveStartMs) * Rate / 1000).toInt + 1)
        if (due > sent) {
          val firstSeq = records.length.toLong
          topo.addData(take(due - sent))
          calls += ((offset, firstSeq, due - sent, Clock.nowMs))
          offset += 1
          sent = due
        }
        if (sent < total) Thread.sleep(TickMs)
      }
    }, "perfbench-generator")
    val scans = mutable.ArrayBuffer[Map[String, Any]]()
    val scanner = new Thread(() => {
      val sc = spark.sparkContext
      var k = 0
      // a scan starts at its due time, or when the previous one ends if
      // that is later; no scan starts after the live phase
      while ((k + 1) * ScanEveryMs < liveMs && Clock.nowMs - liveStartMs < liveMs) {
        val due = liveStartMs + (k + 1) * ScanEveryMs
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong)
        val id = s"scan:$k"
        sc.setJobGroup(id, "snapshot scan", interruptOnCancel = false)
        val t0 = Clock.nowMs
        val res = try {
          val df = KStreams.snapshot(spark, topo.names(1))
          val rows = df.collect().length
          Map("rows" -> rows, "rows_scanned" -> rowsScanned(df), "error" -> "")
        } catch {
          case e: Throwable => Map("rows" -> 0, "rows_scanned" -> 0L, "error" -> String.valueOf(e))
        }
        val t1 = Clock.nowMs
        sc.clearJobGroup()
        if (tracer != null) {
          tracer.add(Span(id, null, "scan", "snapshot", t0, t1))
          tracer.window(id, t0, t1)
        }
        scans += (res ++ Map("due_ms" -> due, "start_ms" -> t0, "end_ms" -> t1))
        k += 1
      }
    }, "perfbench-scanner")
    generator.start(); scanner.start()
    generator.join(); scanner.join()
    val liveEndMs = Clock.nowMs
    queries.foreach(_.processAllAvailable())
    val drainEndMs = Clock.nowMs
    val builds = util.artifactBuildLog.size - builds0
    val cpuS = Main.cpuS - cpu0
    val gcS = Main.gcS - gc0
    val heapMb = Main.retainedHeapMb()

    val progress = queries.zip(topo.names).map { case (q, name) =>
      name -> q.recentProgress.toSeq.map { p =>
        Map("batch_id" -> p.batchId, "start_ms" -> Clock.isoMs(p.timestamp),
          "trigger_ms" -> Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
          "input_rows" -> p.numInputRows,
          "end_offset" -> p.sources.headOption.map(_.endOffset).orNull)
      }
    }.toMap
    val stops = queries.map { q =>
      val t0 = Clock.nowMs; q.stop(); Clock.nowMs - t0
    }
    val queryFailures = queries.flatMap(_.exception).map(_.getMessage)
    val spans = if (tracer == null) Nil else tracer.spans().map(_.toMap)

    new java.io.File(out).mkdirs()
    def dump(file: String)(lines: Iterator[String]): Unit = {
      val w = new PrintWriter(s"$out/$file")
      try lines.foreach(w.println) finally w.close()
    }
    dump("events.tsv")(records.iterator.map { case (s, r) =>
      s"$s\t${r.key}\t${r.value}\t${r.ts.getTime}" })
    Seq(topo.names(1) -> "table.tsv", topo.names(2) -> "filtered.tsv").foreach { case (n, f) =>
      val rows = KStreams.snapshot(spark, n).collect()
      dump(f)(rows.iterator.map(r =>
        s"${r.getString(0)}\t${r.getString(1)}\t${r.getTimestamp(2).getTime}"))
    }
    val streamRows = spark.table(topo.names(0)).count()
    val viewsLeft = spark.catalog.listTables().collect().count(_.isTemporary)
    topo.names.foreach(n => spark.catalog.dropTempView(n))

    Map(
      "traced" -> traced,
      "start_ms" -> startMs,
      "replay_end_ms" -> replayEndMs,
      "live_start_ms" -> liveStartMs,
      "live_end_ms" -> liveEndMs,
      "drain_end_ms" -> drainEndMs,
      "backlog" -> Backlog,
      "backlog_calls" -> backlogCalls,
      "rate" -> Rate,
      "builds" -> builds,
      "records" -> records.length,
      "calls" -> calls.map { case (o, s, n, t) =>
        Map("offset" -> o, "first_seq" -> s, "count" -> n, "sent_ms" -> t) },
      "scans" -> scans,
      "progress" -> progress,
      "stop_ms" -> stops,
      "query_failures" -> queryFailures,
      "cpu_s" -> cpuS,
      "gc_s" -> gcS,
      "retained_heap_mb" -> heapMb,
      "stream_rows" -> streamRows,
      "views_left" -> viewsLeft,
      "queries_left_active" -> spark.streams.active.length,
      "spans" -> spans)
  }
}

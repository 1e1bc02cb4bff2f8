package graft.perfbench

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{SparkEntry, util}

/** A workload made of registry entries (`SparkEntry.queries`).
  *
  * Set-up runs every entry twice, in list order, the first time into the
  * empty artifact cache: that builds the artifacts the entries read and
  * warms the JIT.
  * The timed phase then makes as many whole passes over the list as fit
  * into `seconds` at the pace of the second set-up round, at least one,
  * each in an order drawn from the seed. An entry's latency covers the registry call,
  * planning and full materialisation with `collect()`, the result a user
  * receives. With `trace=1` the same number of passes runs again with the
  * [[Tracer]] installed, then one more untraced pass: the JIT keeps
  * warming over the run, so the tracing overhead is taken against the
  * untraced passes on both sides of the traced ones.
  *
  * Correctness, outside every timed region: the first pass's results
  * are written as parquet for the oracle check; every later pass must
  * reproduce the first pass's rows exactly; entries whose oracle reads a
  * sidecar run once more with sidecars on (the timed passes skip them,
  * as `graft.Bench` does) and must reproduce the timed rows. */
object BatchWorkload {
  private val SidecarMark = "graft_oracle_scratch"

  final case class Sample(pass: Int, traced: Boolean, name: String, startMs: Double,
      constructMs: Double, endMs: Double, rows: Long, builds: Int, error: String) {
    def toMap: Map[String, Any] = Map("pass" -> pass, "traced" -> traced, "name" -> name,
      "start_ms" -> startMs, "construct_ms" -> constructMs, "end_ms" -> endMs,
      "rows" -> rows, "builds" -> builds, "error" -> error)
  }

  private def fingerprint(rows: Array[Row]): Int =
    MurmurHash3.orderedHash(rows.iterator.map(_.toString))

  private def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
      .take(300)

  private def buildLogSize: Int = util.artifactBuildLog.size

  def run(spark: SparkSession, conf: Main.Conf): Map[String, Any] = {
    val dir = conf("data")
    val names = conf("entries").split(',').toSeq.filter(_.nonEmpty)
    val queries = SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"entries not in SparkEntry.queries: ${unknown.mkString(",")}")
    val seed = conf("seed").toLong
    val resultsDir = conf("results")
    sys.props("graft.bench.skipSidecars") = "1"

    /** The entry's DataFrame, its rows, and when the registry call returned. */
    def call(name: String): (DataFrame, Array[Row], Double) = {
      val df = queries(name)(spark, dir)
      val constructed = Clock.nowMs
      (df, df.collect(), constructed)
    }

    // set-up: one call per entry into the cold artifact cache, then a
    // second round, because one call leaves the JIT still compiling and
    // the first timed passes measurably slower and less steady
    val setupCalls = names.map { n =>
      val b0 = buildLogSize
      val t0 = Clock.nowMs
      val err = try { call(n); "" } catch { case e: Throwable => errorText(e) }
      spark.catalog.clearCache()
      Map("name" -> n, "ms" -> (Clock.nowMs - t0), "builds" -> (buildLogSize - b0),
        "error" -> err)
    }
    val round2Ms = Clock.nowMs
    names.foreach { n =>
      try call(n) catch { case _: Throwable => () } // a failing entry is reported by its timed calls
      spark.catalog.clearCache()
    }
    val timingStartMs = Clock.nowMs
    val passes = math.max(1, (conf("seconds").toDouble * 1000 / (timingStartMs - round2Ms)).toInt)

    val samples = mutable.ArrayBuffer[Sample]()
    val passInfo = mutable.ArrayBuffer[Map[String, Any]]()
    val firstRows = mutable.Map[String, Int]()
    val mismatches = mutable.ArrayBuffer[Map[String, Any]]()
    def mismatch(n: String, pass: Int, reason: String): Unit =
      mismatches += Map("name" -> n, "pass" -> pass, "reason" -> reason)
    var tracer: Tracer = null
    val sc = spark.sparkContext

    def runPass(pass: Int, traced: Boolean, after: Boolean = false): Unit = {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(names)
      val held = mutable.ArrayBuffer[(String, DataFrame, Array[Row])]()
      val cpu0 = Main.cpuS
      val gc0 = Main.gcS
      val p0 = Clock.nowMs
      order.foreach { n =>
        val group = s"entry:$pass:$n"
        sc.setJobGroup(group, n, interruptOnCancel = false)
        val b0 = buildLogSize
        val t0 = Clock.nowMs
        val s = try {
          val (df, rows, t1) = call(n)
          val t2 = Clock.nowMs
          held += ((n, df, rows))
          Sample(pass, traced, n, t0, t1, t2, rows.length.toLong, buildLogSize - b0, "")
        } catch {
          case e: Throwable =>
            val t = Clock.nowMs
            Sample(pass, traced, n, t0, t, t, 0L, buildLogSize - b0, errorText(e))
        }
        sc.clearJobGroup()
        samples += s
        if (traced) {
          tracer.add(Span(group, null, "entry", "entry", s.startMs, s.endMs, Map("name" -> n)))
          tracer.add(Span(s"$group/construct", group, "construct", "operators",
            s.startMs, s.constructMs))
          tracer.add(Span(s"$group/execute", group, "execute", "exec", s.constructMs, s.endMs))
          tracer.window(s"$group/construct", s.startMs, s.constructMs)
          tracer.window(s"$group/execute", s.constructMs, s.endMs)
        }
        spark.catalog.clearCache()
      }
      val p1 = Clock.nowMs
      passInfo += Map("pass" -> pass, "traced" -> traced, "after" -> after, "start_ms" -> p0, "end_ms" -> p1,
        "cpu_s" -> (Main.cpuS - cpu0), "gc_s" -> (Main.gcS - gc0),
        "queries_left_active" -> spark.streams.active.length,
        "views_left" -> spark.catalog.listTables().collect().count(_.isTemporary))
      // outside the timed pass: first results go to the oracle check,
      // later passes must reproduce them
      val writes = held.flatMap { case (n, df, rows) =>
        val fp = fingerprint(rows)
        firstRows.get(n) match {
          case None =>
            firstRows(n) = fp
            Some(Future(spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
              .coalesce(1).write.mode("overwrite").parquet(s"$resultsDir/$n")))
          case Some(fp0) =>
            if (fp0 != fp) mismatch(n, pass, "rows differ from the first pass")
            None
        }
      }
      Await.result(Future.sequence(writes), Duration.Inf)
    }

    (0 until passes).foreach(p => runPass(p, traced = false))
    val spans = if (!conf.flag("trace")) Nil else {
      tracer = new Tracer(spark)
      tracer.install()
      (passes until 2 * passes).foreach(p => runPass(p, traced = true))
      val s = tracer.spans().map(_.toMap) // detaches the listeners
      runPass(2 * passes, traced = false, after = true)
      s
    }
    val heapMb = Main.retainedHeapMb()
    val timedEndMs = Clock.nowMs

    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    sys.props.remove("graft.bench.skipSidecars")
    val sidecarRuns = oracles.collect { case (n, sql) if sql.contains(SidecarMark) => n }
      .toSeq.sorted.filter(firstRows.contains).map { n =>
        try {
          val (_, rows, _) = call(n)
          if (fingerprint(rows) != firstRows(n))
            mismatch(n, -1, "rows with sidecars on differ from the timed rows")
        } catch { case e: Throwable => mismatch(n, -1, s"sidecar run failed: ${errorText(e)}") }
        spark.catalog.clearCache()
        n
      }

    Map(
      "workload" -> conf("workload"),
      "cores" -> conf.int("cores"),
      "setup_calls" -> setupCalls,
      "timing_start_ms" -> timingStartMs,
      "round2_ms" -> (timingStartMs - round2Ms),
      "timed_end_ms" -> timedEndMs,
      "samples" -> samples.map(_.toMap),
      "passes" -> passInfo,
      "retained_heap_mb" -> heapMb,
      "mismatches" -> mismatches,
      "oracle_sql" -> oracles,
      "sidecar_entries" -> sidecarRuns,
      "spans" -> spans)
  }
}

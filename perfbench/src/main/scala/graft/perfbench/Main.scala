package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark JVM: builds the session, sets up, runs the timed phase
  * of one workload and writes its raw measurements as JSON. The Python
  * runner (perfbench/run.py) starts it, checks the results against the
  * oracles and turns the measurements into metrics.
  *
  * Arguments are `key=value` pairs; see [[Conf]]. */
object Main {
  final case class Conf(args: Map[String, String]) {
    def apply(k: String): String =
      args.getOrElse(k, throw new IllegalArgumentException(s"missing argument $k"))
    def int(k: String): Int = apply(k).toInt
    def flag(k: String): Boolean = args.get(k).contains("1")
    /** Scratch root of this JVM; java.io.tmpdir points here, so the
      * artifact cache and every entry's scratch start empty. */
    def tmp: String = sys.props("java.io.tmpdir")
  }

  def session(cores: Int, tmp: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Process CPU time in seconds (all threads of this JVM). */
  def cpuS: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** Total collection time of every garbage collector, in seconds. */
  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Live heap after full collections, in MB. Spark's ContextCleaner
    * frees the blocks of unreachable RDDs and broadcasts only after a
    * collection has found them, on its own thread, so the measurement
    * collects, gives the cleaner a second, and collects again. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val conf = Conf(argv.map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap)
    val mainMs = Clock.nowMs
    val spark = session(conf.int("cores"), conf.tmp)
    val sessionMs = Clock.nowMs
    val result =
      try conf("mode") match {
        case "batch" => BatchWorkload.run(spark, conf)
        case "live" => LiveWorkload.run(spark, conf)
        case m => throw new IllegalArgumentException(s"unknown mode $m")
      } finally {
        spark.streams.active.foreach(q => scala.util.Try(q.stop()))
        spark.stop()
      }
    val all = result ++ Map("main_ms" -> mainMs, "session_ms" -> sessionMs)
    Files.writeString(Paths.get(conf("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(all))
  }
}

package graft

import graft.streaming.{KStreams, LocalCheckpointFileManager}
import graft.streaming.KStreams.Record
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Local streaming checkpoints go through Spark's FileSystem-based
  * checkpoint manager (installed by GraftExtensions): no `readlink`
  * fork per rename, the same files on disk, the same atomic-commit
  * contract, and a RocksDB query still resumes from its checkpoint. */
class LocalCheckpointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val key = LocalCheckpointFileManager.ConfKey

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Three micro-batches of stream.toTable checkpointed at `ckpt`. */
  private def runToTable(ckpt: String): Unit = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Record]
    val q = KStreams.KStreamDS(ms.toDS()).toTable.ds.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((b: Dataset[Record], _: Long) => { b.count(); () })
      .outputMode(OutputMode.Update).start()
    try {
      for (i <- 1 to 3) {
        ms.addData(Record("a", s"v$i", ts(s"2024-01-01 10:0$i:00")),
          Record(s"k$i", "x", ts("2024-01-01 10:00:00")))
        q.processAllAvailable()
      }
    } finally q.stop()
  }

  private def files(root: String): Seq[String] = {
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => base.relativize(p).toString).toSeq.sorted
  }

  private def localManager(dir: String): CheckpointFileManager = {
    new File(dir).mkdirs()
    CheckpointFileManager.create(new Path(dir), spark.sessionState.newHadoopConf())
  }

  test("a local toTable stream starts no readlink process") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      runToTable(util.scratchDir("jfr_ckpt"))
      // the recording sees processes this JVM starts
      new ProcessBuilder("true").start().waitFor()
    } finally rec.stop()
    val out = Paths.get(util.scratchDir("jfr") + ".jfr")
    rec.dump(out); rec.close()
    val commands = RecordingFile.readAllEvents(out).asScala
      .map(e => e.getString("command")).toSeq
    Files.delete(out)
    assert(commands.contains("true"), s"recording missed a process start: $commands")
    val readlinks = commands.filter(_.contains("readlink"))
    assert(readlinks.size == 0, s"readlink spawns, e.g. ${readlinks.take(1)}")
  }

  test("the manager is chosen from the path scheme; an explicit conf wins") {
    // the decision alone: building a remote manager would contact its host
    def local(path: String, conf: Configuration) =
      LocalCheckpointFileManager.isLocalPath(new Path(path), conf)
    val conf = new Configuration()
    assert(local("file:///tmp/ckpt", conf) && local("/tmp/ckpt", conf))
    assert(!local("hdfs://nn:8020/ckpt", conf) && !local("s3a://bucket/ckpt", conf))
    // an unqualified path resolves against fs.defaultFS
    val hdfsDefault = new Configuration()
    hdfsDefault.set("fs.defaultFS", "hdfs://nn:8020")
    assert(!local("/ckpt", hdfsDefault) && local("file:/ckpt", hdfsDefault))
    assert(LocalCheckpointFileManager.forPath(new Path("/tmp/ckpt"), conf)
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    // install sets the key only when it is unset
    val fresh = new Configuration()
    LocalCheckpointFileManager.install(fresh)
    assert(fresh.get(key) == classOf[LocalCheckpointFileManager].getName)
    val explicit = new Configuration()
    explicit.set(key, classOf[FileContextBasedCheckpointFileManager].getName)
    LocalCheckpointFileManager.install(explicit)
    assert(explicit.get(key) == classOf[FileContextBasedCheckpointFileManager].getName)
    assert(CheckpointFileManager.create(new Path("/tmp/ckpt"), explicit)
      .isInstanceOf[FileContextBasedCheckpointFileManager])
    // graft sessions carry the install
    assert(localManager(util.scratchDir("cfm_session")).isInstanceOf[LocalCheckpointFileManager])
  }

  test("createAtomic without overwrite over an existing file throws and keeps the old bytes") {
    val dir = util.scratchDir("cfm_noover")
    val fm = localManager(dir)
    val p = new Path(s"$dir/0")
    val first = fm.createAtomic(p, overwriteIfPossible = false)
    first.write("old".getBytes(UTF_8)); first.close()
    val second = fm.createAtomic(p, overwriteIfPossible = false)
    second.write("new".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](second.close())
    assert(new String(Files.readAllBytes(Paths.get(s"$dir/0")), UTF_8) == "old")
  }

  test("cancel leaves no temp file") {
    val dir = util.scratchDir("cfm_cancel")
    val fm = localManager(dir)
    val out = fm.createAtomic(new Path(s"$dir/1"), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(files(dir).isEmpty)
  }

  test("every committed checkpoint file has its .crc sibling, in the layout " +
      "Spark's default manager writes") {
    val ours = util.scratchDir("cfm_layout_fs")
    runToTable(ours)
    val reference = util.scratchDir("cfm_layout_fc")
    spark.conf.set(key, classOf[FileContextBasedCheckpointFileManager].getName)
    try runToTable(reference) finally spark.conf.unset(key)
    val written = files(ours)
    assert(written.exists(_.startsWith("offsets/")) && written.exists(_.startsWith("commits/")) &&
      written.exists(_.startsWith("state/")))
    assert(written == files(reference))
    val missing = written.filterNot(_.endsWith(".crc")).filterNot { f =>
      val p = Paths.get(f)
      val crc = s".${p.getFileName}.crc"
      written.contains(Option(p.getParent).fold(crc)(_.resolve(crc).toString))
    }
    assert(missing.isEmpty, s"committed files without .crc: $missing")
  }

  test("a RocksDB transformWithState query restarted on its checkpoint " +
      "continues from the committed state") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provider)
    spark.conf.set(provider,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ckpt = util.scratchDir("cfm_rocks")
      val ms = MemoryStream[Record]
      val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String)]()
      def start() = KStreams.KStreamDS(ms.toDS()).toTableV2.ds.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch((b: Dataset[Record], id: Long) =>
          b.collect().foreach(r => emitted.add((id, r.key, r.value))))
        .outputMode(OutputMode.Update).start()
      val q1 = start()
      ms.addData(Record("a", "v1", ts("2024-01-01 10:00:00")),
        Record("b", "v1", ts("2024-01-01 10:00:00")))
      q1.processAllAvailable(); q1.stop()
      assert(emitted.asScala.map(e => (e._2, e._3)).toSet == Set(("a", "v1"), ("b", "v1")))
      emitted.clear()
      val q2 = start()
      // a stale update for a (older ts) must lose to the restored state
      ms.addData(Record("a", "v0", ts("2024-01-01 09:00:00")),
        Record("b", "v2", ts("2024-01-01 11:00:00")))
      q2.processAllAvailable(); q2.stop()
      val after = emitted.asScala.toSeq
      assert(after.map(e => (e._2, e._3)) == Seq(("b", "v2")))
      assert(after.forall(_._1 >= 1L), s"restart did not resume the batch ids: $after")
    } finally {
      prev match { case Some(v) => spark.conf.set(provider, v); case None => spark.conf.unset(provider) }
    }
  }
}

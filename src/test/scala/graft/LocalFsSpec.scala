package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.state.GraftStateStoreAccess
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Sink
import graft.tools.{BenchRecord, BenchSession, Fork}
import graft.util.{LocalFs, Tmp}

/** `LocalFs` sets the same permissions Hadoop's forked `chmod` sets, every
  * session builder runs on it and on the FileSystem-based checkpoint
  * manager, and a RocksDB query through the exactly-once sink resumes on
  * it and commits each batch once.
  */
class LocalFsSpec extends SparkTestBase {
  import spark.implicits._

  private def fs(f: LocalFileSystem): LocalFileSystem = {
    f.initialize(URI.create("file:///"), new Configuration())
    f
  }
  private val stock = fs(new LocalFileSystem())
  private val graftFs = fs(new LocalFs())

  private def perms(p: String) = Files.getPosixFilePermissions(Paths.get(p))

  private def octal(mode: String) = new FsPermission(Integer.parseInt(mode, 8).toShort)

  private val modes = Seq("644", "755", "700", "600", "444", "000")

  /** The permissions `f` leaves on a file made by `create` and a dir made
    * by `mkdirs` with `mode`, then on both after `setPermission` to 0750.
    */
  private def made(f: LocalFileSystem, mode: String) = {
    val root = tempDir("localfs").toString
    val (file, dir) = (s"$root/f", s"$root/d")
    val perm = octal(mode)
    f.create(new Path(file), perm, false, 4096, 1.toShort, 1L << 20, null).close()
    assert(f.mkdirs(new Path(dir), perm))
    val fresh = (perms(file), perms(dir))
    Seq(file, dir).foreach(p => f.setPermission(new Path(p), octal("750")))
    (fresh, (perms(file), perms(dir)))
  }

  test("setPermission sets what Hadoop's shell chmod sets, through create and mkdirs") {
    modes.foreach { m =>
      val want = PosixFilePermissions.fromString(octal(m).toString)
      val got = made(graftFs, m)
      assert(got == made(stock, m), s"mode $m")
      assert(got._1 == ((want, want)), s"mode $m")
      assert(got._2._1 == PosixFilePermissions.fromString("rwxr-x---"), s"mode $m")
    }
  }

  test("a sticky bit still goes through Hadoop's own setPermission") {
    val dir = tempDir("localfs-sticky")
    graftFs.setPermission(new Path(dir.toString), octal("1755"))
    // java.nio cannot set the sticky bit: only chmod can have set it
    assert(Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] % 4096 ==
      Integer.parseInt("1755", 8))
  }

  /** The child's report. Spark prefers `SPARK_LOCAL_DIRS` to
    * `spark.local.dir`, so the child runs without it.
    */
  private lazy val builders = {
    val out = tempDir("localfs-child").resolve("out.json")
    val pb = new ProcessBuilder(Fork.command("graft.LocalFsChild", Nil, heapMB = 1024): _*)
    pb.environment().remove("SPARK_LOCAL_DIRS")
    val p = pb.redirectError(ProcessBuilder.Redirect.INHERIT).redirectOutput(out.toFile).start()
    if (!p.waitFor(300, TimeUnit.SECONDS)) graft.util.Proc.killTree(p.toHandle)
    Files.readAllLines(out).asScala.flatMap(BenchRecord.parse).headOption
      .getOrElse(fail("the session child printed no result"))
  }

  test("every session builder resolves file: to LocalFs and the FileSystem-based checkpoint manager") {
    LocalFsChild.builders.keys.foreach { b =>
      val r = builders.get(b)
      // another file system was cached before each session started
      assert(r.get("before").asText != classOf[LocalFs].getName, b)
      assert(r.get("fs").asText == classOf[LocalFs].getName, b)
      assert(r.get("checkpoints").asText == classOf[FileSystemBasedCheckpointFileManager].getName, b)
    }
  }

  test("a BenchSession's spark.local.dir is deleted when the session stops") {
    val r = builders.get("bench")
    assert(r.get("localDirWhileRunning").asBoolean)
    assert(!r.get("localDirAfterStop").asBoolean)
    // the next session's RocksDB query runs in that session's own dir
    val again = builders.get("bench-again")
    assert(again.get("ownDirUsed").asBoolean)
    assert(!again.get("firstDirAfterQuery").asBoolean)
    assert(!again.get("localDirAfterStop").asBoolean)
  }

  test("a BenchSession's second streaming query reuses the first one's generated classes") {
    // Spark caches generated classes per class loader; with per-session
    // artifact isolation each query's tasks would get a new one
    assert(builders.get("bench-again").get("recompiled").asLong == 0L)
  }

  test("a RocksDB query through Sink.exactlyOnce resumes from its checkpoint and commits each batch once") {
    val in = tempDir("localfs-in")
    val (out, ck) = (tempDir("localfs-out").toString, tempDir("localfs-ck").toString)
    def stage(name: String, ids: Range): Unit =
      Files.write(in.resolve(name), ids.map(i => s"""{"id":$i}""").asJava, UTF_8): Unit
    def run(): Unit = Sink.exactlyOnce(
      spark.readStream.schema("id INT").json(in.toString).dropDuplicates("id"), out, ck)
      .start().awaitTermination()
    val confs = Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      stage("a.json", 1 to 5)
      run()
      stage("b.json", 4 to 8)
      run()
      // a crash after the sink published batch 1 but before its commit
      // log entry: the restart replays batch 1 and rewrites its changelog
      Seq("1", ".1.crc").foreach(f => Files.delete(Paths.get(ck, "commits", f)))
      run()
    } finally confs.keys.foreach(spark.conf.unset)

    val got = Sink.readCommitted(spark, out).select("_batch_id", "id").as[(Long, Int)].collect()
    assert(got.sortBy(_._2).toSeq == (1 to 5).map(0L -> _) ++ (6 to 8).map(1L -> _))
    assert(Files.list(Paths.get(out, "_commits")).iterator().asScala
      .map(_.getFileName.toString).toSet == Set("0", "1"))
    assert(Files.exists(Paths.get(ck, "commits", "1")))
    // the state is RocksDB changelogs, and Hadoop's checksum sidecars stay
    val stateFiles = Files.walk(Paths.get(ck, "state")).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(stateFiles.exists(_.endsWith(".changelog")))
    assert(Files.exists(Paths.get(ck, "offsets", ".1.crc")))
  }
}

/** Child JVM for LocalFsSpec: one session per builder, in turn. Before
  * each, a stock local file system is put in Hadoop's FileSystem cache; with
  * the session up, the child records the class `file:` resolves to and the
  * checkpoint manager Spark would pick, then stops the session. Then a
  * second bench session runs a RocksDB query twice and counts the classes
  * the second run compiles. Prints one JSON object keyed by builder.
  */
object LocalFsChild {
  val builders: Map[String, () => SparkSession] = Map(
    "verify" -> (() => Verify.session("2")),
    "explain" -> (() => Explain.session()),
    "test" -> (() => SparkTestBase.build()),
    "bench" -> (() => BenchSession.build(2, appName = "localfs-child")))

  def main(args: Array[String]): Unit = {
    val root = URI.create("file:///")
    val out = BenchRecord.obj()
    builders.foreach { case (name, build) =>
      FileSystem.closeAll()
      val before = FileSystem.get(root, new Configuration()).getClass.getName
      val s = build()
      val hc = new Configuration(s.sparkContext.hadoopConfiguration)
      s.conf.getAll.foreach { case (k, v) => hc.set(k, v) }
      val r = out.putObject(name)
        .put("before", before)
        .put("fs", FileSystem.get(root, hc).getClass.getName)
        .put("checkpoints", CheckpointFileManager.create(new Path("/tmp"), hc).getClass.getName)
      val dir = localDir(s)
      r.put("localDir", dir.toString).put("localDirWhileRunning", Files.isDirectory(dir))
      s.stop()
      r.put("localDirAfterStop", Files.exists(dir))
    }
    // a second bench session in this JVM runs a RocksDB query: it must not
    // re-create the first session's deleted dir, nor leave its own behind
    val s = BenchSession.build(2, appName = "localfs-child")
    val in = Files.createTempDirectory("localfs-child")
    try {
      Files.write(in.resolve("a.json"), "{\"id\":1}\n{\"id\":1}\n".getBytes(UTF_8))
      def query(ck: String): Unit =
        s.readStream.schema("id INT").json(in.toString).dropDuplicates("id").writeStream
          .format("noop").option("checkpointLocation", in.resolve(ck).toString)
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
      query("ck")
      // the same query again, as a new streaming query on its own session clone
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      query("ck-again")
      val recompiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
      GraftStateStoreAccess.unloadAll()
      val dir = localDir(s)
      val used = Files.list(dir).iterator().asScala.exists(_.getFileName.toString.startsWith("spark-"))
      s.stop()
      out.putObject("bench-again")
        .put("firstDirAfterQuery", Files.exists(Paths.get(out.get("bench").get("localDir").asText)))
        .put("ownDirUsed", used)
        .put("localDirAfterStop", Files.exists(dir))
        .put("recompiled", recompiled)
    } finally Tmp.delete(in.toString)
    BenchRecord.emit(out)
  }

  private def localDir(s: SparkSession) =
    Paths.get(s.sparkContext.getConf.get("spark.local.dir", "/nonexistent"))
}

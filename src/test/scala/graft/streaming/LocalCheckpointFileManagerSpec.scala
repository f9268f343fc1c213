package graft.streaming

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, atomic}

import scala.jdk.CollectionConverters._

import graft.SparkSpecBase
import graft.pipeline._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** A user's own checkpoint file manager, counting its instances. */
class CountingCheckpointFileManager(path: Path, conf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, conf) {
  CountingCheckpointFileManager.created.incrementAndGet()
}
object CountingCheckpointFileManager {
  val created = new atomic.AtomicInteger()
}

/** A local filesystem under another scheme: a stand-in for any non-`file`
  * store (no `FileContext` binding, so Spark picks its `FileSystem`
  * manager for it). */
class OtherSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftother:///")
  override def getScheme: String = "graftother"
}

/** Pins [[LocalCheckpointFileManager]]: checkpoint writes start no
  * subprocess, leave the files and modes Spark's default manager leaves,
  * resume a checkpoint written by that manager, never override a
  * session's own choice, and leave non-`file` schemes to Spark's pick. */
class LocalCheckpointFileManagerSpec extends SparkSpecBase {
  import spark.implicits._
  import LocalCheckpointFileManager.ManagerClassKey

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  /** Run `body` with the session conf set to `value` (or unset), then
    * restore what it was. */
  private def withManagerConf[A](value: Option[String])(body: => A): A = {
    val before = spark.conf.getOption(ManagerClassKey)
    value.fold(spark.conf.unset(ManagerClassKey))(spark.conf.set(ManagerClassKey, _))
    try body
    finally before.fold(spark.conf.unset(ManagerClassKey))(spark.conf.set(ManagerClassKey, _))
  }

  private def installedManager(path: Path): CheckpointFileManager =
    withManagerConf(None) {
      LocalCheckpointFileManager.install(spark)
      CheckpointFileManager.create(path, spark.sessionState.newHadoopConf())
    }

  /** The commands of the processes this thread started while `body` ran,
    * as the JDK's flight recorder saw them. */
  private def processesStarted(body: => Unit): Seq[String] = {
    val thread = Thread.currentThread().getId
    val rec = new Recording()
    val file = Files.createTempFile("ckpt", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(e => e.getEventType.getName == "jdk.ProcessStart" &&
          e.getThread != null && e.getThread.getJavaThreadId == thread)
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  /** Writes, overwrites and a cancelled write: the commit path's calls. */
  private def writeCheckpointFiles(fm: CheckpointFileManager, dir: Path): Unit = {
    def put(p: Path, overwrite: Boolean, body: String): Unit = {
      val out = fm.createAtomic(p, overwrite)
      out.write(body.getBytes("UTF-8"))
      out.close()
    }
    fm.mkdirs(new Path(dir, "offsets"))
    fm.mkdirs(new Path(dir, "state/0/0"))
    put(new Path(dir, "offsets/0"), overwrite = false, "v1\n{}")
    put(new Path(dir, "offsets/1"), overwrite = false, "v1\n{}")
    put(new Path(dir, "offsets/1"), overwrite = true, "v1\n{\"again\":1}")
    put(new Path(dir, "state/0/0/1.delta"), overwrite = true, "delta")
    val cancelled = fm.createAtomic(new Path(dir, "offsets/2"), overwriteIfPossible = false)
    cancelled.write(1)
    cancelled.cancel()
    assert(fm.exists(new Path(dir, "offsets/1")))
    assert(fm.list(new Path(dir, "offsets")).map(_.getPath.getName).sorted.toSeq == Seq("0", "1"))
    val in = fm.open(new Path(dir, "offsets/1"))
    try assert(new String(in.readAllBytes(), "UTF-8") == "v1\n{\"again\":1}") finally in.close()
    fm.delete(new Path(dir, "offsets/0"))
  }

  /** Every file and directory under `root`, relative, with its mode. */
  private def tree(root: String): Seq[(String, String)] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator().asScala.filter(_ != base).map { p =>
      base.relativize(p).toString ->
        java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toSeq.sorted
    finally walk.close()
  }

  test("atomic writes and overwrites through the installed manager start no process") {
    val dir = new Path(s"file:${tmp("ckpt_nofork")}")
    val fm = installedManager(dir)
    assert(fm.isInstanceOf[LocalCheckpointFileManager])
    // the recorder does see this thread's processes
    val control = processesStarted(new ProcessBuilder("sh", "-c", "exit 0").start().waitFor())
    assert(control.size == 1, s"flight recorder missed a process start: $control")
    val started = processesStarted(writeCheckpointFiles(fm, dir))
    assert(started.isEmpty, s"checkpoint writes forked: ${started.mkString("; ")}")
  }

  test("leaves the same files, sidecars and modes as Spark's default manager") {
    val conf = spark.sessionState.newHadoopConf()
    val byDefault = tmp("ckpt_default")
    val byLocal = tmp("ckpt_local")
    writeCheckpointFiles(new FileContextBasedCheckpointFileManager(new Path(byDefault), conf), new Path(byDefault))
    writeCheckpointFiles(installedManager(new Path(byLocal)), new Path(byLocal))
    val expected = tree(byDefault)
    assert(expected.map(_._1).contains("offsets/.1.crc"))
    assert(expected.toMap.apply("offsets/1") == "rw-r--r--")
    assert(expected.toMap.apply("state/0/0") == "rwxr-xr-x")
    assert(tree(byLocal) == expected)
  }

  object Split extends Intersection[String, String] {
    def process(m: Message[String]): Iterator[Message[String]] =
      m.content.split(" ").iterator.map(w => m.spinOff(w, Some(w)))
  }

  object Count extends StatefulIntersection[String, String, Long, (String, Long)] {
    def key(m: Message[String]): String = m.groupingValue.getOrElse(m.content)
    def initialState: Long = 0L
    def update(key: String, inputs: Seq[Message[String]], state: Long): (Long, Seq[Message[(String, Long)]]) = {
      val n = state + inputs.size
      (n, Seq(Message(key, (key, n), Some(key))))
    }
  }

  private def wordCount(input: MemoryStream[Message[String]]): Pipeline =
    Pipeline(spark)
      .addRamp("sentence", input.toDS())
      .addIntersection("sentence", "word", Split, Grouping.HashRing, partitions = 4)
      .addStatefulIntersection("word", "counts", Count)

  private def counts(s: Seq[String]) = s.flatMap(_.split(" ")).groupBy(identity).view.mapValues(_.size.toLong).toMap

  test("a stateful pipeline checkpointed under Spark's default manager resumes exactly under this one") {
    val ckpt = tmp("ckpt_resume") + "/ckpt"
    val input = MemoryStream[Message[String]](spark, 2)
    val table = new ConcurrentHashMap[String, Long]()
    val sink = StreamSink.ForeachBatch({ (df, _) =>
      df.selectExpr("content._1", "content._2").as[(String, Long)]
        .collect().foreach { case (w, c) => table.put(w, c) }
    }, OutputMode.Update, Some(ckpt))
    val first = Seq("the cat sat", "the dog ran", "a cat ran")
    val second = Seq("the cat ran again", "a dog sat")

    // generation 1: started without Pipeline.run, so nothing installs
    // and Spark picks its own manager for the checkpoint
    withManagerConf(None) {
      val q = sink.start(wordCount(input).stream[(String, Long)]("counts"), "ckpt_resume", Trigger.ProcessingTime(0L))
      input.addData(first.zipWithIndex.map { case (s, i) => Message(i.toString, s) })
      q.processAllAvailable()
      q.stop()
      assert(CheckpointFileManager.create(new Path(ckpt), spark.sessionState.newHadoopConf())
        .isInstanceOf[FileContextBasedCheckpointFileManager])
    }
    assert(table.asScala.toMap == counts(first))

    // generation 2: same checkpoint through Pipeline.run, which installs
    withManagerConf(None) {
      val run = wordCount(input).addSink("counts", sink, "ckpt_resume").run()
      assert(spark.conf.get(ManagerClassKey) == classOf[LocalCheckpointFileManager].getName)
      input.addData(second.zipWithIndex.map { case (s, i) => Message((100 + i).toString, s) })
      run.processAllAvailable()
      run.stop()
    }
    assert(table.asScala.toMap == counts(first ++ second))
  }

  test("a session that already names a checkpoint file manager keeps its own class") {
    val own = classOf[CountingCheckpointFileManager].getName
    withManagerConf(Some(own)) {
      val before = CountingCheckpointFileManager.created.get()
      val input = MemoryStream[Message[String]](spark, 2)
      val run = wordCount(input)
        .addSink("counts", StreamSink.ForeachBatch((df, _) => { df.count(); () }, OutputMode.Update,
          Some(tmp("ckpt_own") + "/ckpt")), "ckpt_own")
        .run()
      input.addData(Seq(Message("0", "keep my manager")))
      run.processAllAvailable()
      run.stop()
      assert(spark.conf.get(ManagerClassKey) == own)
      assert(CountingCheckpointFileManager.created.get() > before)
    }
  }

  test("a non-file scheme gets the manager Spark would pick without this one") {
    val conf = spark.sessionState.newHadoopConf()
    conf.set(ManagerClassKey, classOf[LocalCheckpointFileManager].getName)
    conf.set("fs.graftother.impl", classOf[OtherSchemeFileSystem].getName)
    val sparkPick = new Configuration(conf)
    sparkPick.unset(ManagerClassKey)
    val dir = tmp("ckpt_other")

    val other = new Path(s"graftother://$dir")
    val fm = CheckpointFileManager.create(other, conf).asInstanceOf[LocalCheckpointFileManager]
    assert(fm.underlying.getClass == CheckpointFileManager.create(other, sparkPick).getClass)
    assert(fm.underlying.getClass == classOf[FileSystemBasedCheckpointFileManager])
    writeCheckpointFiles(fm, other)
    assert(Files.exists(Paths.get(dir, "offsets", "1")))

    // a scheme-less path follows the default filesystem's scheme
    val schemeless = new Path(dir)
    assert(new LocalCheckpointFileManager(schemeless, conf).underlying
      .isInstanceOf[LocalCheckpointFileManager.LocalFsManager])
    conf.set("fs.defaultFS", "graftother:///")
    sparkPick.set("fs.defaultFS", "graftother:///")
    assert(new LocalCheckpointFileManager(schemeless, conf).underlying.getClass ==
      CheckpointFileManager.create(schemeless, sparkPick).getClass)
  }
}

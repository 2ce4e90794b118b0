package graft.streaming

import graft.{Sessions, SparkSpec}
import graft.streaming.CdcStreamConsumer.Change
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** A filesystem that is not Hadoop's `LocalFileSystem` (it stores
  * files locally, under its own scheme), with a `FileContext` binding,
  * so Spark's default checkpoint manager for it is the FileContext
  * one — as for HDFS. */
class RemoteLikeFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${RemoteLikeFs.Scheme}:///")
  override def getScheme: String = RemoteLikeFs.Scheme
}

object RemoteLikeFs {
  val Scheme = "graftremote"

  /** A Hadoop conf that resolves the scheme. */
  def conf(base: Configuration): Configuration = {
    val c = new Configuration(base)
    c.set(s"fs.$Scheme.impl", classOf[RemoteLikeFs].getName)
    c.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[RemoteLikeAfs].getName)
    c
  }
}

class RemoteLikeAfs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new RemoteLikeFs, conf, RemoteLikeFs.Scheme, false)

/** The checkpoint file manager [[Sessions.builder]] installs: the
  * fork-free FileSystem manager on local paths, Spark's own choice
  * everywhere else, with the same commit semantics and the same
  * on-disk checkpoint. */
class LocalFsCheckpointFileManagerSpec extends SparkSpec {

  private def hadoopConf: Configuration = spark.sessionState.newHadoopConf()

  private def localDir(): Path =
    new Path(Files.createTempDirectory("graft_cfm").toUri)

  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("the session routes checkpoint files to the graft manager, as Sessions.builder does") {
    assert(spark.conf.get(LocalFsCheckpointFileManager.ConfKey) ==
      classOf[LocalFsCheckpointFileManager].getName)
    assert(Sessions.CheckpointFileManagerConf ==
      (LocalFsCheckpointFileManager.ConfKey -> classOf[LocalFsCheckpointFileManager].getName))
    val fm = CheckpointFileManager.create(localDir(), hadoopConf)
    assert(fm.isInstanceOf[LocalFsCheckpointFileManager])
  }

  test("a file: path picks the fork-free FileSystem delegate") {
    val dir = localDir()
    assert(dir.toUri.getScheme == "file")
    for (p <- Seq(dir, new Path(dir.toUri.getPath))) { // explicit scheme, and the default fs
      val fm = new LocalFsCheckpointFileManager(p, hadoopConf)
      assert(fm.delegate.isInstanceOf[LocalFsCheckpointFileManager.Renaming], fm.delegate)
      assert(fm.delegate.isInstanceOf[FileSystemBasedCheckpointFileManager])
      assert(fm.isLocal)
    }
  }

  test("a non-local filesystem gets exactly Spark's default manager") {
    val conf = RemoteLikeFs.conf(hadoopConf) // carries the session's key
    assert(conf.get(LocalFsCheckpointFileManager.ConfKey) != null)
    val p = new Path(s"${RemoteLikeFs.Scheme}://${Files.createTempDirectory("graft_cfm_remote")}")
    val fm = new LocalFsCheckpointFileManager(p, conf)
    val withoutKey = new Configuration(conf)
    withoutKey.unset(LocalFsCheckpointFileManager.ConfKey)
    val default = CheckpointFileManager.create(p, withoutKey)
    assert(default.isInstanceOf[FileContextBasedCheckpointFileManager], default)
    assert(fm.delegate.getClass == default.getClass)
  }

  test("createAtomic: no overwrite onto an existing file, overwrite replaces, cancel leaves nothing") {
    val dir = localDir()
    val fm = new LocalFsCheckpointFileManager(dir, hadoopConf)
    val target = new Path(dir, "0")
    write(fm, target, "first", overwrite = false)
    assert(read(fm, target) == "first")

    intercept[FileAlreadyExistsException](write(fm, target, "second", overwrite = false))
    assert(read(fm, target) == "first")

    write(fm, target, "third", overwrite = true)
    assert(read(fm, target) == "third")

    val empty = localDir()
    val out = new LocalFsCheckpointFileManager(empty, hadoopConf)
      .createAtomic(new Path(empty, "1"), overwriteIfPossible = false)
    out.write("never".getBytes(UTF_8))
    out.cancel()
    // neither the file nor its temp file (or their .crc sidecars) remain
    assert(new java.io.File(empty.toUri).list().isEmpty)
  }

  test("a consumer checkpoint keeps offsets, commits, state deltas and checksum sidecars") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val T0 = 1700000000000000L
    val ckpt = Files.createTempDirectory("graft_cfm_ckpt")
    val input = MemoryStream[Change]
    val c = GraftCdcConsumer.builder(spark)
      .withSource(input.toDS())
      .withPartitionConsumer(_.foreach(_ => ()))
      .withQueryTimeWindowSizeMs(100)
      .withCheckpointLocation(ckpt.toString)
      .withQueryName(s"spec_cfm_${System.nanoTime()}")
      .build()
    try {
      c.start()
      input.addData((1 to 8).map(i => Change(i.toLong, T0 + i * 1000L, i.toLong, 2, 0.0)))
      c.processAllAvailable()
      input.addData(Seq(Change(9, T0 + 100000000L, 99, 2, 0.0)))
      c.processAllAvailable()
    } finally c.stop()
    val files = {
      val s = Files.walk(ckpt)
      try s.filter(Files.isRegularFile(_)).map(p => ckpt.relativize(p).toString)
        .toArray.map(_.toString).toSet
      finally s.close()
    }
    def has(pred: String => Boolean, what: String): Unit =
      assert(files.exists(pred), s"no $what in checkpoint: ${files.toSeq.sorted.mkString(", ")}")
    has(_ == "metadata", "query metadata")
    has(_ == "offsets/0", "offset log entry")
    has(_ == "commits/0", "commit log entry")
    has(_ == "offsets/.0.crc", "Hadoop .crc of the offset log")
    has(f => f.startsWith("state/0/") && f.endsWith("/1.delta"), "state delta")
    has(f => f.startsWith("state/0/") && f.endsWith("/.1.delta.crc"), "Hadoop .crc of a state delta")
    has(f => f.startsWith("state/0/") && f.endsWith("/1.delta.crc"), "Spark checksum of a state delta")
    // no temp file survives a commit
    assert(!files.exists(_.contains(".tmp")), files)
  }
}

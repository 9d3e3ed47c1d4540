package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

import graft.SparkSuite
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, DelegateToFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The contract of [[LocalCheckpointFileManager]], on temp directories:
  * which manager a path gets, the atomic publish (no overwrite, clean
  * cancel), the modes Spark's default manager would give, and the
  * checksummed `.crc` sidecar.
  */
class LocalCheckpointFileManagerSpec extends SparkSuite {

  private def conf(): Configuration = spark.sessionState.newHadoopConf()

  private def write(fm: CheckpointFileManager, p: Path, text: String): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Every entry under `root` (hidden ones included) → its mode. */
  private def modes(root: JPath): Map[String, String] = {
    val all = Files.walk(root)
    try all.iterator().asScala.filter(_ != root).map(p =>
      root.relativize(p).toString -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    ).toMap
    finally all.close()
  }

  test("a file: path gets the graft manager; other schemes get Spark's choice") {
    val dir = tmp("cfm-select")
    for (p <- Seq(s"file://$dir", dir)) {
      val fm = CheckpointFileManager.create(new Path(p), conf())
      assert(fm.isInstanceOf[LocalCheckpointFileManager], p)
      assert(fm.asInstanceOf[LocalCheckpointFileManager].delegate
        .isInstanceOf[FileSystemBasedCheckpointFileManager], p)
      assert(fm.isLocal, p)
    }
    // Any other scheme: Spark's FileContext manager, as with no class set…
    val c = conf()
    c.set("fs.AbstractFileSystem.grafttest.impl", classOf[GraftTestFs].getName)
    val other = new LocalCheckpointFileManager(new Path(s"grafttest://$dir"), c)
    assert(other.delegate.isInstanceOf[FileContextBasedCheckpointFileManager])
    // …or, for a scheme with a FileSystem but no FileContext binding,
    // Spark's FileSystem manager, where CheckpointFileManager.create falls
    // back to it too.
    c.set("fs.graftraw.impl", classOf[RawLocalFileSystem].getName)
    val raw = new LocalCheckpointFileManager(new Path(s"graftraw://$dir"), c)
    assert(raw.delegate.isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  test("createAtomic(p, overwriteIfPossible = false) on an existing p throws and leaves p as it was") {
    val dir = new Path(tmp("cfm-exists"))
    val fm = new LocalCheckpointFileManager(dir, conf())
    val p = new Path(dir, "0")
    write(fm, p, "first")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("second".getBytes(UTF_8))
    assertThrows[FileAlreadyExistsException](out.close())
    assert(read(fm, p) == "first")
  }

  test("cancel() leaves neither the target nor a temp file") {
    val dir = tmp("cfm-cancel")
    val fm = new LocalCheckpointFileManager(new Path(dir), conf())
    val out = fm.createAtomic(new Path(dir, "1"), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(Files.list(Paths.get(dir)).iterator().asScala.toList.isEmpty)
  }

  test("files and directories get the modes Spark's default manager gives them, under the session umask") {
    for (umask <- Seq("022", "077")) {
      val c = conf()
      c.set("fs.permissions.umask-mode", umask)
      def tree(fm: Path => CheckpointFileManager): Map[String, String] = {
        val root = Paths.get(tmp("cfm-modes"))
        val ckpt = new Path(root.resolve("ckpt").toString)
        val m = fm(ckpt)
        m.createCheckpointDirectory()
        m.mkdirs(new Path(ckpt, "offsets"))
        m.mkdirs(new Path(ckpt, "state/0/0"))
        write(m, new Path(ckpt, "offsets/0"), "v1")
        write(m, new Path(ckpt, "state/0/0/1.delta"), "delta")
        modes(root)
      }
      val default = tree(new FileContextBasedCheckpointFileManager(_, c))
      val graft = tree(new LocalCheckpointFileManager(_, c))
      assert(graft == default, s"umask $umask")
      val (file, dir) = if (umask == "022") ("rw-r--r--", "rwxr-xr-x") else ("rw-------", "rwx------")
      assert(graft("ckpt/offsets/0") == file && graft("ckpt/offsets/.0.crc") == file, s"umask $umask")
      assert(graft("ckpt") == dir && graft("ckpt/state/0/0") == dir, s"umask $umask")
    }
  }

  test("a written file has a .crc sidecar, and a flipped byte fails the read with ChecksumException") {
    val dir = tmp("cfm-crc")
    val fm = new LocalCheckpointFileManager(new Path(dir), conf())
    val p = new Path(dir, "2")
    write(fm, p, "v1\n{\"batchWatermarkMs\":0}")
    assert(Files.isRegularFile(Paths.get(dir, ".2.crc")))
    assert(read(fm, p).startsWith("v1"))
    val file = Paths.get(dir, "2")
    val bytes = Files.readAllBytes(file)
    bytes(5) = (bytes(5) ^ 1).toByte
    Files.write(file, bytes)
    assertThrows[ChecksumException](read(fm, p))
  }
}

/** A FileContext binding for the scheme `grafttest`, so a spec can name a
  * scheme other than `file` that FileContext accepts.
  */
class GraftTestFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFileSystem, conf, "grafttest", false)

package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, UnsupportedFileSystemException}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.streaming.LocalNioCheckpointFileManager

/** Directory creation of the local checkpoint file manager: local paths
  * go through java.nio, any other scheme through Hadoop's FileContext. */
class LocalNioCheckpointFileManagerSpec extends AnyFunSuite with Matchers {

  private val tmp = Files.createTempDirectory("graft_ckptfm")
  private val root = new Path(tmp.resolve("ckpt").toUri)
  private val fm = new LocalNioCheckpointFileManager(root, new Configuration())

  test("createCheckpointDirectory creates the root and returns it qualified") {
    val made = fm.createCheckpointDirectory()
    made.toUri.getScheme shouldBe "file"
    new java.io.File(made.toUri).isDirectory shouldBe true
    fm.createCheckpointDirectory() shouldBe made
  }

  test("mkdirs creates nested local directories and is idempotent") {
    val nested = new Path(root, "state/0/1")
    fm.mkdirs(nested)
    fm.exists(nested) shouldBe true
    Files.isDirectory(tmp.resolve("ckpt/state/0/1")) shouldBe true
    fm.mkdirs(nested) // re-create: no error
    fm.mkdirs(new Path(tmp.resolve("plain/a/b").toString)) // scheme-less
    Files.isDirectory(tmp.resolve("plain/a/b")) shouldBe true
  }

  test("mkdirs of a non-local path is left to Hadoop") {
    // no filesystem is registered for the scheme: the FileContext base
    // is what rejects it
    an[UnsupportedFileSystemException] should be thrownBy
      fm.mkdirs(new Path("graftnolocal://host/ckpt/offsets"))
  }
}

package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import graft.pipeline.ChessPipeline
import graft.streaming.LocalCheckpointFiles
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The java.nio checkpoint file manager keeps the contract of Spark's
  * default one: a write is all or nothing, a no-overwrite write never
  * replaces a file, and checkpoints either manager wrote read back
  * through the other.
  */
class LocalCheckpointFilesSpec extends AnyFunSuite with SparkTestBase with TempDirs {


  private def ours(dir: JPath) = new LocalCheckpointFiles(new Path(dir.toUri), new Configuration())
  private def sparkDefault(dir: JPath) = CheckpointFileManager.create(new Path(dir.toUri), new Configuration())
  private def names(dir: JPath): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }
  private def read(fm: CheckpointFileManager, f: JPath): String = {
    val in = fm.open(new Path(f.toUri))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
  private def write(fm: CheckpointFileManager, f: JPath, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(new Path(f.toUri), overwrite)
    try { out.write(text.getBytes(UTF_8)); out.close() }
    catch { case e: Throwable => out.cancel(); throw e }
  }

  test("an interrupted write is invisible, and cancelling it leaves nothing behind") {
    val dir = freshDir("ckpt")
    val target = dir.resolve("offsets").resolve("0")
    val out = ours(dir).createAtomic(new Path(target.toUri), false)
    out.write("v1\n{}".getBytes(UTF_8))
    out.flush()
    assert(!Files.exists(target)) // bytes written, not yet published
    assert(names(target.getParent).forall(_.startsWith(".")))
    out.cancel()
    out.close() // after cancel: a no-op, publishes nothing
    assert(names(target.getParent).isEmpty)
  }

  test("a no-overwrite write onto an existing file throws and changes nothing") {
    val dir = freshDir("ckpt")
    val target = dir.resolve("0")
    val fm = ours(dir)
    write(fm, target, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, target, "second", overwrite = false))
    assert(read(fm, target) === "first")
    assert(names(dir) === Set("0"))
    write(fm, target, "third", overwrite = true)
    assert(read(fm, target) === "third")
    assert(names(dir) === Set("0"))
  }

  test("a file Spark's default manager wrote with a .crc is replaced and reads back through both") {
    val dir = freshDir("ckpt")
    val target = dir.resolve("1.delta")
    write(sparkDefault(dir), target, "old", overwrite = true)
    assert(names(dir) === Set("1.delta", ".1.delta.crc"))
    write(ours(dir), target, "a longer replacement", overwrite = true)
    assert(names(dir) === Set("1.delta")) // the stale checksum is gone
    assert(read(sparkDefault(dir), target) === "a longer replacement")
    assert(read(ours(dir), target) === "a longer replacement")
    assert(ours(dir).list(new Path(dir.toUri)).map(_.getPath.getName).toSet === Set("1.delta"))
    ours(dir).delete(new Path(target.toUri))
    assert(names(dir).isEmpty)
  }

  test("a checkpoint Spark's default manager started is continued exactly once") {
    import IncrementalPipelineSpec.game
    val raw = freshDir("raw")
    val out = freshDir("out").toString
    val ckpt = freshDir("ckpt")
    def gameIds(): Seq[String] = {
      import spark.implicits._
      spark.read.format("pgn").load(out).select("game_id").as[String].collect().toSeq.sorted
    }

    Files.write(raw.resolve("f1.ndjson"), (game("a1") + "\n" + game("a2")).getBytes(UTF_8))
    val key = LocalCheckpointFiles.ConfKey
    val configured = spark.conf.get(key)
    spark.conf.unset(key)
    try ChessPipeline.runStream(spark, raw.toString, out, ckpt.toString)
    finally spark.conf.set(key, configured)
    assert(Files.exists(ckpt.resolve("offsets/.0.crc"))) // the default manager wrote it

    Files.write(raw.resolve("f2.ndjson"), game("b1").getBytes(UTF_8))
    ChessPipeline.runStream(spark, raw.toString, out, ckpt.toString)
    assert(Files.exists(ckpt.resolve("offsets/1")) && !Files.exists(ckpt.resolve("offsets/.1.crc")))
    assert(gameIds() === Seq("a1", "a2", "b1"))
  }
}

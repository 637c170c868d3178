package graft.sources.pgn

import java.nio.file.Files
import org.apache.spark.SparkException
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The numbered write's commit protocol: a job that fails after some
  * parts committed deletes those parts and leaves the directory's earlier
  * contents readable. */
class PgnWriteSpec extends AnyFunSuite with graft.SparkTestBase with graft.TempDirs {

  test("a failed numbered write aborts its committed parts, keeping the old ones") {
    val out = freshDir("pgn_abort")
    Files.write(out.resolve("part-00000-old.pgn"), "[Game 1]\n".getBytes)
    val dir = out.toString
    val rows = spark.sparkContext.parallelize(0 until 3, 3).mapPartitionsWithIndex { (p, _) =>
      if (p == 2) {
        // fail only once the other two parts have committed
        val deadline = System.nanoTime() + 30e9.toLong
        while (new java.io.File(dir).list().count(_.endsWith(".pgn")) < 3 &&
          System.nanoTime() < deadline) Thread.sleep(10)
        throw new IllegalStateException("injected task failure")
      }
      Iterator.single[InternalRow](InternalRow.fromSeq(
        Seq.tabulate(7)(i => UTF8String.fromString(s"g$p-$i"))))
    }
    val e = intercept[SparkException](
      new PgnBatchWrite(dir, "w1", Array.range(0, 7), _.toLong).write(rows))
    assert(e.getMessage.contains("injected task failure"), e.getMessage)
    assert(out.toFile.list().toSeq === Seq("part-00000-old.pgn"))
  }
}

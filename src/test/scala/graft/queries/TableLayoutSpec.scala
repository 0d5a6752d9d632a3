package graft.queries

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Query sizing must not depend on how a table is laid out: a table
  * written as a directory of part files sizes by its bytes like a
  * single-file table does.
  */
class TableLayoutSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  test("textWidth of a documents.parquet/ directory of several files follows its bytes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-layout").toString
    val rnd = new scala.util.Random(7)
    // incompressible text, so the files hold well over one 64 KB task
    Seq.tabulate(4000)(i => (i.toLong, rnd.alphanumeric.take(64).mkString))
      .toDF("doc_id", "text").repartition(4)
      .write.parquet(s"$dir/documents.parquet")
    val parts = new java.io.File(s"$dir/documents.parquet").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts.length > 1, "the table must be a directory of several files")
    val perTask = 64L * 1024L
    val expected = math.min(spark.sessionState.conf.numShufflePartitions.toLong,
      (parts.map(_.length).sum + perTask - 1L) / perTask).toInt
    val width = Queries.textWidth(spark, dir, "documents")
    assert(width > 1, s"width $width for ${parts.map(_.length).sum} bytes")
    assert(width == expected)
  }
}

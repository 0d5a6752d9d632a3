package graft.sources

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Discovery-level tests: control markers must survive Spark's file
  * listing (InMemoryFileIndex drops `.`/`_`-prefixed path components),
  * so these drive real marker files through `FileEventSource.list` /
  * `stream` rather than hand-built path strings.
  */
class FileEventSourceSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  /** The marker writer `Ops.reprocessFile`/`reprocessPrefix` use. */
  private def unlink(root: String, loadFile: String): Unit =
    FileEventSource.writeUnlinkMarker(spark.sparkContext.hadoopConfiguration, root, loadFile)

  test("unlink marker written by Ops is DISCOVERED by the batch listing") {
    val root = Files.createTempDirectory("graft-fes").toString
    Files.createDirectories(Paths.get(s"$root/bucket/input"))
    Files.write(Paths.get(s"$root/bucket/input/data.csv"), "1|2|3\n".getBytes)
    // target whose encoded name starts with '_' — the case the t- prefix
    // exists for (URLEncoder leaves '_' unescaped; the listing would
    // silently drop a bare `_bucket%2F...` marker file)
    unlink(root, "bucket/input/data.csv")
    unlink(root, "_bucket/input/other.csv")

    val events = FileEventSource.list(spark, root).collect().toSeq
    val unlinks = events.filter(_.unlink)
    assert(unlinks.map(e => s"${e.bucket}/${e.key}").toSet ==
      Set("bucket/input/data.csv", "_bucket/input/other.csv"),
      s"markers must be discovered, got: $events")
    val data = events.filterNot(_.unlink)
    assert(data.map(e => s"${e.bucket}/${e.key}") == Seq("bucket/input/data.csv"))
  }

  test("unlink marker is discovered by the STREAMING source") {
    val root = Files.createTempDirectory("graft-fes-stream").toString
    val ckpt = Files.createTempDirectory("graft-fes-ckpt").toString
    Files.createDirectories(Paths.get(s"$root/bucket/input"))
    Files.write(Paths.get(s"$root/bucket/input/a.csv"), "1\n".getBytes)
    unlink(root, "bucket/input/a.csv")

    val q = FileEventSource.stream(spark, root)
      .writeStream.format("memory").queryName("fes_stream")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      def got(): Seq[(String, Boolean)] =
        spark.table("fes_stream").collect().toSeq
          .map(r => (s"${r.getAs[String]("bucket")}/${r.getAs[String]("key")}",
            r.getAs[Boolean]("unlink")))
      while (got().size < 2 && System.currentTimeMillis() < deadline) Thread.sleep(250)
      assert(got().toSet == Set(("bucket/input/a.csv", false), ("bucket/input/a.csv", true)))
    } finally q.stop()
  }

  test("'t-' is a FILENAME prefix of the new namespace, not part of any legacy target") {
    // the namespace round-trips a target that itself starts with "t-"
    val fresh = FileEventSource.toEvent("/watch")(
      "/watch/graft-control/unlink/" +
        FileEventSource.encodeControlTarget("t-bucket/input/t-file.csv"),
      0L, 1000L)
    assert(fresh.unlink && fresh.bucket == "t-bucket" && fresh.key == "input/t-file.csv")
  }
}

package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TpchGraph

class TpchGraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def partFile(dir: Path): Path = {
    val s = Files.list(dir)
    try s.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
    finally s.close()
  }

  test("table() re-infers the schema after an in-place part overwrite") {
    val sf = TestSpark.tmpDir("graft_schema_memo")
    val dir = sf.resolve("t.parquet")
    Seq((1L, "a")).toDF("x", "y").coalesce(1)
      .write.parquet(dir.toString)
    // no checksum sidecars: the overwrite below must not trip crc checks
    Files.list(dir).filter(_.getFileName.toString.endsWith(".crc"))
      .forEach(p => Files.delete(p))
    assert(TpchGraph.table(spark, sf.toString, "t").columns.toSeq ==
      Seq("x", "y"))
    val other = sf.resolve("other.parquet")
    Seq((2L, 3L, 4L)).toDF("p", "q", "r").coalesce(1)
      .write.parquet(other.toString)
    val dirMtime = Files.getLastModifiedTime(dir)
    // same inode, same name: the directory entry (and mtime) is untouched
    Thread.sleep(10)
    Files.write(partFile(dir), Files.readAllBytes(partFile(other)))
    assert(Files.getLastModifiedTime(dir) == dirMtime)
    val t = TpchGraph.table(spark, sf.toString, "t")
    assert(t.columns.toSeq == Seq("p", "q", "r"))
    assert(t.as[(Long, Long, Long)].collect().toSeq == Seq((2L, 3L, 4L)))
  }
}

package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.FlightFixture.withFlight
import graft.sources.{FlightProto, FlightService, HadoopFiles}

/** The shared Hadoop handle: every Arrow data-plane file operation goes
  * through [[HadoopFiles]], which must stay on the checksummed
  * `LocalFileSystem` — a staged or spilled file with one flipped value
  * byte still decodes, so only its `.crc` can catch it. */
class HadoopFilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** One partition of doubles: the file is mostly value bytes, so a
    * flipped byte in its middle leaves a well-formed Arrow stream. */
  private def doubles =
    spark.range(0, 20000, 1, 1).selectExpr("id", "cast(id as double) * 0.5 as x")

  private def flipMiddleByte(f: java.io.File): Unit = {
    val raf = new java.io.RandomAccessFile(f, "rw")
    try {
      val at = raf.length / 2
      raf.seek(at)
      val b = raf.read()
      raf.seek(at)
      raf.write(b ^ 0x5a)
    } finally raf.close()
  }

  private def isChecksumError(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists(c =>
      c.isInstanceOf[ChecksumException] ||
        String.valueOf(c.getMessage).contains("Checksum error"))

  private def localFile(hadoopPath: String): java.io.File =
    new java.io.File(new Path(hadoopPath).toUri.getPath)

  test("src/main builds a Hadoop Configuration only inside HadoopFiles") {
    val root = Paths.get(sys.props("user.dir"), "src", "main")
    assert(Files.isDirectory(root), s"no sources at $root")
    val conf = """new\s+(?:org\.apache\.hadoop\.conf\.)?Configuration\b""".r
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    val (helper, rest) =
      sources.partition(_.getFileName.toString == "HadoopFiles.scala")
    assert(helper.size == 1 &&
      conf.findFirstIn(Files.readString(helper.head)).isDefined,
      "the scan no longer finds the helper's own Configuration")
    val offenders = rest.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if conf.findFirstIn(line).isDefined =>
          s"$p:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty,
      s"route these through HadoopFiles.fs:\n${offenders.mkString("\n")}")
  }

  test("the shared handle is the cached checksummed LocalFileSystem a " +
      "fresh default conf resolves to") {
    val p = new Path(TestSpark.tmpRoot.toUri)
    val fs = HadoopFiles.fs(p)
    assert(fs.isInstanceOf[LocalFileSystem])
    assert(fs eq FileSystem.get(p.toUri,
      new org.apache.hadoop.conf.Configuration()))
  }

  test("a staged partition file with one flipped byte fails its DoGet " +
      "with a checksum error as a non-OK grpc-status") {
    withFlight { (srv, c) =>
      srv.register("crc_staged", doubles)
      assert(c.getFlightInfo("crc_staged").endpoints.size == 1)
      val ticket = FlightProto.Ticket.of("crc_staged#0").encode
      assert(c.call("DoGet", Seq(ticket)).status == 0)
      val file = localFile(srv.service.stagePartitions("crc_staged").head)
      flipMiddleByte(file)
      val r = c.call("DoGet", Seq(ticket))
      assert(r.status != 0 && r.statusMessage.contains("Checksum error"),
        s"corrupted DoGet answered ${r.status}: ${r.statusMessage}")
      // without its .crc the same bytes serve cleanly: only the
      // checksum stood between the reader and the flipped value
      assert(new java.io.File(file.getParentFile, s".${file.getName}.crc")
        .delete())
      assert(c.call("DoGet", Seq(ticket)).status == 0)
    }
  }

  test("a spill file with one flipped byte fails the spilled put's " +
      "DSv2 read with a checksum error and registers nothing") {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    def spillDirs = tmp.listFiles.toSet
      .filter(_.getName.startsWith("graft_put_spill_"))
    withFlight { (srv, c) =>
      val before = spillDirs
      // 400k (id, x) rows, ~6.4 MB: past the transport's 4 MiB spill
      // threshold, so the DoPut lands in a real spill dir
      assert(c.doPut("crc_spill_src",
        spark.range(0, 400000, 1, 1)
          .selectExpr("id", "cast(id as double) * 0.5 as x")) == 400000L)
      assert(srv.service.spilledPuts.get() == 1)
      val dir = (spillDirs -- before).toSeq match {
        case Seq(d) => d
        case ds => fail(s"expected one new spill dir, got $ds")
      }
      val part = new java.io.File(dir, "part-00000.arrows")
      assert(new java.io.File(dir, s".${part.getName}.crc").isFile,
        s"the spill file carries no .crc: ${dir.list.toSeq}")
      flipMiddleByte(part)
      val svc = new FlightService(spark)
      try {
        val e = intercept[Exception](svc.ingestSpilledPut(
          FlightProto.FlightDescriptor.path("crc_spill"), dir,
          "id BIGINT, x DOUBLE"))
        assert(isChecksumError(e), s"not a checksum failure: $e")
        assert(svc.list().isEmpty)
      } finally svc.cleanupStaging()
    }
  }
}

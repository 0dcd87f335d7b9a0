package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.CsvGraphImport

class CsvGraphImportSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def writeCsv(lines: Seq[String]): String = {
    val f = TestSpark.tmpFile("graft_csv", ".csv")
    Files.writeString(f, lines.mkString("\n"))
    f.toString
  }

  test("header dialect parses roles, types, id spaces and defaults") {
    val fs = CsvGraphImport.parseHeader(
      "personId:ID(Person),:LABEL,age:int,name,vector:float[]")
    assert(fs.map(_.role) == Seq(CsvGraphImport.IdRole,
      CsvGraphImport.LabelRole,
      CsvGraphImport.PropRole(org.apache.spark.sql.types.IntegerType, false),
      CsvGraphImport.PropRole(org.apache.spark.sql.types.StringType, false),
      CsvGraphImport.PropRole(org.apache.spark.sql.types.FloatType, true)))
    assert(fs.head.idSpace.contains("Person"))
    assert(fs(1).name == "LABEL")        // empty name takes the type name
    assert(fs(3).name == "name")         // bare name defaults to string
  }

  test("node CSV becomes the canonical node table") {
    val path = writeCsv(Seq(
      "personId:ID(Person),:LABEL,age:int,name,vector:float[]",
      "1,User;Admin,34,ann,0.5;1.5",
      "2,User,27,bob,2.5;3.5"))
    val nodes = CsvGraphImport.readNodes(spark, path)
    assert(nodes.columns.toSeq ==
      Seq("ID", "LABELS", "age", "name", "vector"))
    val r = nodes.orderBy("ID")
      .as[(Long, Seq[String], Int, String, Seq[Float])].collect()
    assert(r(0) == ((1L, Seq("User", "Admin"), 34, "ann", Seq(0.5f, 1.5f))))
    assert(r(1) == ((2L, Seq("User"), 27, "bob", Seq(2.5f, 3.5f))))
  }

  test("relationship CSV becomes the canonical rel table") {
    val path = writeCsv(Seq(
      ":START_ID,:END_ID,:TYPE,weight:double",
      "1,2,FOLLOWS,0.5",
      "2,1,BLOCKS,"))
    val rels = CsvGraphImport.readRels(spark, path)
    assert(rels.columns.toSeq == Seq("START_ID", "END_ID", "TYPE", "weight"))
    val r = rels.orderBy("START_ID")
      .as[(Long, Long, String, Option[Double])].collect()
    assert(r(0) == ((1L, 2L, "FOLLOWS", Some(0.5))))
    assert(r(1) == ((2L, 1L, "BLOCKS", None)))
  }

  test("missing :ID fails fast") {
    val path = writeCsv(Seq("name,age:int", "ann,3"))
    assertThrows[IllegalArgumentException](
      CsvGraphImport.readNodes(spark, path))
  }
}

package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** The codec at its per-partition level, with no Spark job: random
  * frames from the type envelope go through [[ArrowIpc.writeStream]] and
  * back through [[ArrowIpc.BatchReader]], and must come back equal. */
class ArrowIpcCodecSpec extends AnyFunSuite {

  private val scalars = Seq(IntegerType, LongType, FloatType, DoubleType,
    StringType)

  private val text: Gen[String] = Gen.listOf(Gen.oneOf(
    "a", "Z", " ", "0", "é", "ß", "日本", "€", "😀", ""))
    .map(_.mkString)

  private def value(t: DataType): Gen[Any] = t match {
    case IntegerType => Gen.choose(Int.MinValue, Int.MaxValue)
    case LongType    => Gen.choose(Long.MinValue, Long.MaxValue)
    case FloatType   => Gen.choose(-1e30f, 1e30f)
    case DoubleType  => Gen.choose(-1e300, 1e300)
    case StringType  => text
  }

  private def orNull(g: Gen[Any]): Gen[Any] =
    Gen.frequency(1 -> Gen.const(null), 4 -> g)

  /** A frame: its schema, its rows, and whether lists freeze to
    * FixedSizeList (each list column then has one width in 1..8, and
    * its first record is non-null, as the first-record contract needs). */
  private case class Frame(schema: StructType, rows: Seq[Row],
                           fixed: Boolean, batchSize: Int)

  private val frames: Gen[Frame] = for {
    fixed <- Gen.oneOf(false, true)
    nCols <- Gen.choose(1, 4)
    cols <- Gen.listOfN(nCols, for {
      t <- Gen.oneOf(scalars)
      list <- Gen.oneOf(false, true)
      width <- Gen.choose(1, 8)
    } yield (if (list) ArrayType(t) else t, width))
    nRows <- Gen.choose(1, 30)
    batchSize <- Gen.oneOf(1, 3, 7, ArrowIpc.DefaultBatchSize)
    rows <- Gen.listOfN(nRows, Gen.sequence[Seq[Any], Any](cols.map {
      case (ArrayType(t, _), w) =>
        val elems = orNull(value(t))
        orNull(if (fixed) Gen.listOfN(w, elems)
          else Gen.choose(0, 6).flatMap(Gen.listOfN(_, elems)))
      case (t, _) => orNull(value(t))
    }))
    first <- Gen.sequence[Seq[Any], Any](cols.map {
      case (ArrayType(t, _), w) => Gen.listOfN(w, orNull(value(t)))
      case (t, _) => orNull(value(t))
    })
  } yield Frame(
    StructType(cols.zipWithIndex.map { case ((t, _), i) =>
      StructField(s"c$i", t) }),
    (if (fixed) first +: rows.tail else rows).map(Row.fromSeq),
    fixed, batchSize)

  private def roundTrip(f: Frame): Seq[Row] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(f.schema)
    val toScala = CatalystTypeConverters.createToScalaConverter(f.schema)
    val out = new ByteArrayOutputStream()
    ArrowIpc.writeStream(
      f.rows.iterator.map(toCatalyst(_).asInstanceOf[InternalRow]),
      f.schema, f.batchSize, f.fixed, out)
    val in = new ArrowIpc.BatchReader(
      new ByteArrayInputStream(out.toByteArray),
      _.getFieldVectors.asScala.toSeq)
    try in.rows.map(toScala(_).asInstanceOf[Row]).toList
    finally in.close()
  }

  test("encode -> decode gives back 1,000 random frames of the envelope") {
    val prop = Prop.forAllNoShrink(frames) { f =>
      val back = roundTrip(f)
      Prop(back == f.rows) :| s"${f.schema.simpleString} fixed=${f.fixed} " +
        s"batch=${f.batchSize}\nsent ${f.rows}\ngot  $back"
    }
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(1000)
      .withInitialSeed(Seed(20261021L)), prop)
    assert(result.passed, Pretty.pretty(result))
  }
}

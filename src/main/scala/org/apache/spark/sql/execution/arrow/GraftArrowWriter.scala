package org.apache.spark.sql.execution.arrow

import scala.jdk.CollectionConverters._

import org.apache.arrow.vector.VectorSchemaRoot
import org.apache.arrow.vector.complex.FixedSizeListVector
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters

/** Spark's own `ArrowWriter` over a root that graft builds from its own
  * Arrow schema (`graft.sources.ArrowIpc.arrowSchema`). The field
  * writers are `private[arrow]` and Spark has none for `FixedSizeList`,
  * the reference's frozen embedding envelope, so this bridge lives in
  * Spark's package to add that one writer — the same pattern as
  * `org.apache.spark.sql.graft.ColumnBridge`. */
object GraftArrowWriter {
  def create(root: VectorSchemaRoot): ArrowWriter =
    new ArrowWriter(root, root.getFieldVectors.asScala.map { v =>
      v.allocateNew()
      v match {
        case fsl: FixedSizeListVector => new FixedSizeListWriter(fsl,
          ArrowWriter.createFieldWriter(fsl.getDataVector))
        case _ => ArrowWriter.createFieldWriter(v)
      }
    }.toArray)
}

/** Writes `array<…>` rows into a `FixedSizeList(n)` whose width `n` was
  * frozen from the stream's first record. A row of another length fails
  * fast (the reference's ragged check, GdsActionHandler.java:193-220);
  * a null row still fills its n child slots, with nulls. */
private[arrow] final class FixedSizeListWriter(
    val valueVector: FixedSizeListVector,
    elementWriter: ArrowFieldWriter) extends ArrowFieldWriter {

  private val n = valueVector.getListSize

  override def setNull(): Unit = {
    valueVector.setNull(count)
    var i = 0
    while (i < n) {
      elementWriter.setNull()
      elementWriter.count += 1
      i += 1
    }
  }

  override def setValue(input: SpecializedGetters, ordinal: Int): Unit = {
    val array = input.getArray(ordinal)
    if (array.numElements() != n) throw new IllegalArgumentException(
      s"ragged array for FixedSizeList($n) column: got " +
        s"${array.numElements()} elements at row $count")
    valueVector.setNotNull(count)
    var i = 0
    while (i < n) { elementWriter.write(array, i); i += 1 }
  }

  override def finish(): Unit = { super.finish(); elementWriter.finish() }

  override def reset(): Unit = { super.reset(); elementWriter.reset() }
}

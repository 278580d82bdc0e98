package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** `repeat_rows(n, c1, ..., ck)` → n copies of the row (c1, ..., ck),
  * output columns `col0..col(k-1)`; NULL or n ≤ 0 emits nothing. The
  * row replicator `exceptAll` lowers to, as a STREAMING generator: it
  * hands GenerateExec an iterator over one shared row, so an input row
  * of multiplicity n costs O(1) memory however large n is. Catalyst's
  * own `ReplicateRows` maps a strict `NumericRange`, building all n
  * output rows before the first is consumed, and `explode(sequence(1,
  * n))` first builds an n-element array. */
case class RepeatRows(children: Seq[Expression])
    extends Generator with CodegenFallback {
  override def prettyName: String = "repeat_rows"

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.size >= 2 && children.head.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "repeat_rows expects (count bigint, col, ...)")

  override def elementSchema: StructType =
    StructType(children.tail.zipWithIndex.map { case (e, i) =>
      StructField(s"col$i", e.dataType, e.nullable)
    })

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val n = children.head.eval(input)
    if (n == null) Iterator.empty
    else {
      val row = InternalRow.fromSeq(children.tail.map(_.eval(input)))
      var left = n.asInstanceOf[Long]
      new Iterator[InternalRow] {
        def hasNext: Boolean = left > 0
        def next(): InternalRow = { left -= 1; row }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RepeatRows =
    copy(children = newChildren)
}
